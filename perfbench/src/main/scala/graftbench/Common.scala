package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload gets: the session, its seed, its time budget and a
  * scratch directory it owns. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    smoke: Boolean, traced: Boolean, work: Path) {
  def sc = spark.sparkContext
  /** A fresh directory under the workload's scratch directory. */
  def dir(name: String): String = {
    val p = work.resolve(name)
    Util.deleteTree(p)
    Files.createDirectories(p.getParent)
    p.toString
  }
}

/** What a workload measured. `e2e` and `layer` hold the metrics named in
  * BENCHMARK.json as name → (value, unit); `detail` holds the rest of the
  * record (per-phase and per-tier figures, counts). Every failed check
  * appends a message to `failures`. */
final class Result {
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, (Double, String)]()
  val detail = mutable.LinkedHashMap[String, Any]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
  /** Traced runs: an operation typical of the workload, timed with and
    * without tracing to measure the tracing overhead. */
  var overheadProbe: Option[() => Any] = None
  var overheadRounds = 6

  def check(ok: Boolean, msg: => String): Boolean = {
    if (!ok && failures.size < 50) failures.synchronized(failures += msg)
    ok
  }
}

object Util {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def bytesUnder(p: String): Long = {
    val path = Paths.get(p)
    if (!Files.exists(path)) 0L
    else {
      val s = Files.walk(path)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def timeS[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Linear-interpolated quantile (the `statistics.quantiles` inclusive
    * rule), NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Peak resident set of this JVM (VmHWM), MB. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Squared l2 distance in double over float vectors, as the scalar
    * ground truth computes it. */
  def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    s
  }

  /** Scalar top-k ids of `target` over `corpus` (row index = id), by
    * (distance, id), optionally restricted by a row predicate. */
  def topK(corpus: IndexedSeq[Array[Float]], target: Array[Float], k: Int,
      keep: Long => Boolean = _ => true): Array[Long] = {
    val heap = new java.util.PriorityQueue[(Double, Long)](k + 1,
      (x: (Double, Long), y: (Double, Long)) => {
        val c = java.lang.Double.compare(y._1, x._1)
        if (c != 0) c else java.lang.Long.compare(y._2, x._2)
      })
    var i = 0
    while (i < corpus.length) {
      val id = i.toLong
      if (keep(id)) {
        val d = l2(corpus(i), target)
        if (heap.size < k) heap.add((d, id))
        else {
          val top = heap.peek()
          if (d < top._1 || (d == top._1 && id < top._2)) { heap.poll(); heap.add((d, id)) }
        }
      }
      i += 1
    }
    heap.asScala.toSeq.sortBy(x => (x._1, x._2)).map(_._2).toArray
  }

  /** Run `f` over `xs` on `threads` threads, preserving order. */
  def parMap[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }
}

/** A minimal JSON writer for the result record (numbers, strings,
  * booleans, nulls, sequences and maps). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case RawJson(j) => j
    case s: Span => apply(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.opId,
      "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    case (a, b) => apply(Seq(a, b))
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.result()
  }
}
