package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Versioned
import graft.streaming.{EventWindows, StreamingDedup}

/** Streaming ingest: three long-running queries read one landing
  * directory — watermarked tumbling windows, TTL dedup by event id, and
  * a versioned-table sink. One op lands one seeded micro-batch file and
  * waits until every query has committed it.
  *
  * Batch `k` holds `events` new events stamped in minute `k` of event
  * time; `outOfOrder` of them are pulled back up to 3 minutes (inside the
  * 10-minute watermark delay, so never late), `dupShare` more rows
  * redeliver events of this or the previous batch under a new `seq`, and
  * from batch 1 on `lateShare` rows are stamped an hour back, behind any
  * watermark, so both stateful queries drop exactly those. */
final class EventIngest(ctx: Ctx, root: String) {
  import EventIngest._
  private implicit val spark: SparkSession = ctx.spark
  import spark.implicits._

  private val types = Seq("view", "click", "cart", "buy", "error", "signup")
  private val rng = new Random(ctx.seed)
  private val landed = mutable.ArrayBuffer.empty[Ev]
  private var prev: Seq[Ev] = Seq.empty
  private var k = 0
  private val landing = root + "landing"
  private val staging = root + "staging"
  val vdir: String = root + "versioned"
  Files.createDirectories(Paths.get(landing))

  private def batch(k: Int): Seq[Ev] = {
    val fresh = (0 until events).map { i =>
      val shift = if (rng.nextDouble() < outOfOrder) rng.nextInt(180000) else 0
      Ev(k.toLong * events + i, k * 1000000L + i,
        new Timestamp(t0 + k * 60000L + rng.nextInt(60000) - shift),
        rng.nextInt(5000).toLong, types(rng.nextInt(types.size)),
        math.round(rng.nextDouble() * 10000) / 100.0, late = false, dup = false)
    }
    val pool = prev ++ fresh
    val dups = (0 until (events * dupShare).toInt).map { j =>
      pool(rng.nextInt(pool.size)).copy(seq = k * 1000000L + events + j, dup = true)
    }
    val late = if (k == 0) Seq.empty else (0 until (events * lateShare).toInt).map { j =>
      Ev(1000000000000L + k * 1000L + j, k * 1000000L + 2 * events + j,
        new Timestamp(t0 + k * 60000L - 3600000L - rng.nextInt(600000)),
        rng.nextInt(5000).toLong, types(rng.nextInt(types.size)),
        math.round(rng.nextDouble() * 10000) / 100.0, late = true, dup = false)
    }
    prev = fresh
    rng.shuffle(fresh ++ dups ++ late)
  }

  /** Write the next batch aside; `land` then moves its file into the
    * landing directory in one rename so no query sees a partial file.
    * Returns the staged file and its name in the landing directory. */
  def stage(): (String, String) = {
    val b = batch(k)
    val dir = s"$staging/b$k"
    b.map(e => (e.eventId, e.seq, e.ts, e.userId, e.eventType, e.value))
      .toDF("event_id", "seq", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(dir)
    landed ++= b
    val name = f"batch-$k%06d.parquet"
    k += 1
    (Files.list(Paths.get(dir)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get.toString, name)
  }

  private def land(staged: (String, String)): Unit =
    ctx.tracer.layer("harness", "land") {
      Files.move(Paths.get(staged._1), Paths.get(landing, staged._2), StandardCopyOption.ATOMIC_MOVE)
    }

  land(stage())
  private val schema = spark.read.parquet(landing).schema
  private def source(): DataFrame = spark.readStream.schema(schema).parquet(landing)
  private val queries: Seq[StreamingQuery] = Seq(
    EventWindows.streamTumblingToMemory(spark, landing, "ts", "5 minutes", "10 minutes",
      "pb_windows"),
    StreamingDedup.firstPerKeyTtl(source(), Seq("event_id"), "ts", "seq", "10 minutes",
      retentionMs = 5 * 60000L)
      .writeStream.format("memory").queryName("pb_dedup").outputMode("append")
      .option("checkpointLocation", ctx.dir("checkpoints/dedup")).start(),
    Versioned.streamInto(source(), vdir, "perfbench", ctx.dir("checkpoints/versioned"),
      Trigger.ProcessingTime(0L)))
  commit()

  private def commit(): Unit =
    ctx.tracer.layer("stream", "commit")(queries.foreach(_.processAllAvailable()))

  /** The op: land a staged batch and wait until every query committed it. */
  def ingest(staged: (String, String)): Boolean = { land(staged); commit(); true }

  def rows: Long = events.toLong

  /** Late rows the dedup query dropped so far (it filters input rows, so
    * this is the generator's injected count). */
  def lateDropped: Double = dropped(queries(1))

  /** Wait for the queries to settle, check every sink, stop the queries. */
  def finish(): Boolean =
    try {
      settle(queries.head)
      verify()
    } finally queries.foreach(_.stop())

  private def dropped(q: StreamingQuery): Double =
    q.recentProgress.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble

  /** Wait until the windows query has run any no-data batch the last
    * watermark advance triggers, so its sink stops changing. */
  private def settle(q: StreamingQuery): Unit = {
    var last = -1L
    var stable = 0
    while (stable < 5) {
      Thread.sleep(100)
      val id = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      if (id == last && !q.status.isTriggerActive) stable += 1 else stable = 0
      last = id
    }
  }

  /** Every sink against batch SQL over the landed events. The windows
    * query drops late rows after a per-batch partial aggregation, so its
    * counter counts the late (window, type) groups of each batch. */
  private def verify(): Boolean = {
    val all = landed.toSeq.map(e =>
      (e.eventId, e.seq, e.ts, e.userId, e.eventType, e.value, e.late, e.dup, e.seq / 1000000L))
      .toDF("event_id", "seq", "ts", "user_id", "event_type", "value", "late", "dup", "batch")
    val cols = Seq("event_id", "seq", "ts", "user_id", "event_type", "value")
    val lateRows = landed.count(_.late)
    val lateGroups = all.filter(col("late"))
      .select(col("batch"), window(col("ts"), "5 minutes"), col("event_type")).distinct().count()
    val wm = queries(0).recentProgress.flatMap(p => Option(p.eventTime.get("watermark")))
      .map(s => Timestamp.from(java.time.Instant.parse(s))).maxBy(_.getTime)
    val expected = all.filter(!col("late"))
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      .filter(col("w.end") <= lit(wm))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"),
        col("sum_value"))
    val wcols = Seq("window_start", "event_type", "n_events", "sum_value")
    val Seq(sink, landedRows, windows, expectedWindows, emitted, expectedEmitted) =
      Harness.digests(Seq(
        Versioned.read(spark, vdir) -> cols, all -> cols,
        spark.table("pb_windows") -> wcols, expected -> wcols,
        spark.table("pb_dedup").select(col("key").cast("long"), col("seq")) -> Seq("key", "seq"),
        all.filter(!col("late") && !col("dup")).select(col("event_id").as("key"), col("seq")) ->
          Seq("key", "seq")))
    Seq(
      ctx.check("versioned sink holds every landed row")(sink == landedRows),
      ctx.check(s"windows query dropped ${dropped(queries(0))} late groups, injected $lateGroups")(
        dropped(queries(0)) == lateGroups),
      ctx.check(s"dedup query dropped ${dropped(queries(1))} late rows, injected $lateRows")(
        dropped(queries(1)) == lateRows),
      ctx.check("windows sink matches batch windows below the watermark")(
        windows == expectedWindows),
      ctx.check("dedup sink emits each non-late event id once with its first seq")(
        emitted == expectedEmitted))
      .forall(identity)
  }
}

object EventIngest {
  val events = 1000
  val outOfOrder = 0.10
  val dupShare = 0.05
  val lateShare = 0.02
  val t0: Long = java.time.Instant.parse("2024-03-01T00:00:00Z").toEpochMilli

  private final case class Ev(eventId: Long, seq: Long, ts: Timestamp, userId: Long,
      eventType: String, value: Double, late: Boolean, dup: Boolean)
}
