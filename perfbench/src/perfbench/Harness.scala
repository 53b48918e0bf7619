package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed operation of a workload: its kind, wall seconds, the input
  * rows it consumed and whether it (and its output check) succeeded. */
final case class OpRecord(kind: String, seconds: Double, rows: Long, ok: Boolean)

/** Everything a workload needs: the session, its private work directory,
  * the seed and run length, and the tracer (a no-op unless `--trace 1`). */
final class Ctx(
    val spark: SparkSession,
    val work: Path,
    val seed: Long,
    val seconds: Int,
    val tracer: Tracer) {

  val ops = ArrayBuffer.empty[OpRecord]
  /** Problems found by checks outside any single op (end-of-run checks). */
  val problems = ArrayBuffer.empty[String]
  /** Seconds of each set-up repetition, for the median in `setup_s`. */
  val setupReps = ArrayBuffer.empty[Double]
  var sessionStartS = 0.0
  var warmupS = 0.0
  /** Wall seconds of the timed region and the rounds it ran. */
  var timedS = 0.0
  var groups = 0L
  /** Metrics that are exact counts of the seeded inputs and outputs. */
  val exact = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** The closed loop: run group after group of ops (an ETL day, a
    * curation pass) until `seconds` have passed; a started group always
    * completes, so every run times whole groups. */
  def runGroups(group: Long => Unit): Unit = {
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    var g = 0L
    while (System.nanoTime() < deadline) {
      group(g)
      g += 1
    }
    timedS = (System.nanoTime() - t0) / 1e9
    groups = g
  }

  /** Run one op: time it, trace it, record success. `body` returns
    * false when the op's own output check fails. */
  def op(kind: String, rows: Long)(body: => Boolean): Boolean =
    checkedOp(kind, rows)(body)(identity)

  /** Run one op whose output `check` runs after the op's clock stops;
    * a failed check still fails the op. */
  def checkedOp[A](kind: String, rows: Long)(body: => A)(check: A => Boolean): Boolean = {
    val t0 = System.nanoTime()
    val out =
      try Right(tracer.op(kind)(body))
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] op $kind failed: $e")
          e.printStackTrace(System.err)
          Left(e)
      }
    val s = (System.nanoTime() - t0) / 1e9
    val ok = out.exists(check)
    ops += OpRecord(kind, s, rows, ok)
    if (!ok) problems += s"op $kind failed"
    ok
  }

  /** Build the workload state `reps` times in fresh directories and keep
    * the last; each repetition's time feeds the `setup_s` median. */
  def repeatSetup[S](reps: Int)(build: String => S): S = {
    var last: Option[S] = None
    (0 until reps).foreach { r =>
      val t0 = System.nanoTime()
      last = Some(build(dir(s"setup$r") + "/"))
      setupReps += (System.nanoTime() - t0) / 1e9
    }
    last.get
  }

  /** Mark every op whose kind passes `pred` as failed: an end-of-run
    * check found the state those ops produced wrong. */
  def failKinds(pred: String => Boolean): Unit =
    ops.indices.foreach(i => if (pred(ops(i).kind)) ops(i) = ops(i).copy(ok = false))

  def warmup(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    tracer.suspended(body)
    warmupS = (System.nanoTime() - t0) / 1e9
  }

  def check(what: String)(cond: Boolean): Boolean = {
    if (!cond) {
      problems += what
      System.err.println(s"[perfbench] check failed: $what")
    }
    cond
  }
}

object Harness {

  /** Order-independent content digest of a frame: row count and the sum
    * of a per-row 31-bit hash over the listed columns (in that order). */
  def digest(df: DataFrame, cols: Seq[String]): (Long, Long) = {
    val h = pmod(xxhash64(cols.map(col): _*), lit(2147483647L))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Digests of several frames, computed as concurrent Spark jobs: the
    * harness's own checks, kept off the critical path of a run. */
  def digests(frames: Seq[(DataFrame, Seq[String])]): Seq[(Long, Long)] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    Await.result(Future.sequence(frames.map { case (df, cols) => Future(digest(df, cols)) }),
      Duration.Inf)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def total(xs: Iterable[Double]): Double = xs.foldLeft(0.0)(_ + _)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Bytes of regular files under `dir` whose names pass `keep`. */
  def bytesUnder(dir: String, keep: String => Boolean = _ => true): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(p => Files.isRegularFile(p) && keep(p.getFileName.toString))
          .mapToLong(p => Files.size(p)).sum()
      finally s.close()
    }
  }

  def isParquet(name: String): Boolean = name.endsWith(".parquet")

  /** Bytes of `df` written once as plain parquet in a single file: the
    * denominator of space amplification. */
  def plainBytes(df: DataFrame, dir: String): Long = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    bytesUnder(dir, isParquet)
  }

  /** Peak resident set of this process in MB (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** Uniform integer in [0, m) from a seeded hash of the given columns. */
  def hashMod(m: Long, seed: Long, salt: String, cols: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: cols): _*), lit(m))

  def json(m: Seq[(String, Any)]): String = m.map { case (k, v) =>
    val vs = v match {
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      case d: Double if d.isNaN || d.isInfinite => "null"
      case b: Boolean => b.toString
      case n: Number => n.toString
      case inner: Seq[_] => json(inner.asInstanceOf[Seq[(String, Any)]])
      case other => other.toString
    }
    "\"" + k + "\": " + vs
  }.mkString("{", ", ", "}")
}
