package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{EtlJob, ReconJob, Versioned}
import graft.operators.Versioned.MergeClause

/** `etl_daily`: the paper's daily pipeline, closed loop with one caller.
  * Each seeded day lands a batch of orders and
  *   - runs the four YAML write operations (append, partition overwrite,
  *     update, upsert) against catalog targets through `EtlJob`;
  *   - lands the same batch in a versioned table (append, merge, delete),
  *     with compaction, z-order clustering and vacuum on the warm-up day
  *     and every other day after;
  *   - reads the versioned table back: a selective `readWhere` and the
  *     same kind of predicate through `graft` SQL (both on the clustered
  *     columns), time travel to the previous day, and the change feed of
  *     the day's append;
  *   - lands one micro-batch of events for three long-running streaming
  *     queries and waits until all of them committed it;
  *   - closes with a recon of the upserted target against the versioned
  *     table.
  * One op is one call. A started day always completes, so every run
  * times whole days.
  *
  * Batch shape per day: `perDay` new keys (all on the day's own date,
  * one new partition), `updates` revisions of existing keys drawn from
  * the previous `window` dates (so up to `window` old partitions are
  * touched), and `deletes` keys removed from the versioned table only.
  * Those deletes are the recon's injected mismatches: the recon must
  * report exactly the dates that hold a deleted key. */
object EtlDaily extends Workload {
  val baseDays = 30
  val perDay = 600
  val updates = 200
  val deletes = 6
  val window = 14

  private final class State(val root: String, val rep: Int, val orders: Orders) {
    val vdir: String = root + "versioned"
    def batch(d: Int): String = s"${root}input/day=$d"
    def table(n: String): String = s"${n}_r$rep"
    /** Days each target has absorbed, for the end-of-run recomputation. */
    val applied = mutable.Map.empty[String, mutable.ArrayBuffer[Int]]
    val deleted = mutable.Set.empty[Long]
    /** Expected live rows of the versioned table after the latest
      * generated day, recomputed with plain Spark. */
    var live: DataFrame = _
    /** When each day's versioned writes ended (day -1: the base commit),
      * and the live digest then. */
    val endOf = mutable.Map.empty[Int, (java.time.Instant, (Long, Long))]
    var ingest: EventIngest = _
    def mark(target: String, d: Int): Unit =
      applied.getOrElseUpdate(target, mutable.ArrayBuffer.empty) += d
  }

  def run(ctx: Ctx): Unit = {
    implicit val spark: SparkSession = ctx.spark
    val st = ctx.repeatSetup(3) { root =>
      val s = new State(root, ctx.setupReps.size, new Orders(spark, ctx.seed, perDay))
      s.orders.rows(s.orders.dateKeys(0, baseDays), "0").write.parquet(root + "input/base")
      val b = spark.read.parquet(root + "input/base")
      b.withColumn("is_new", lit(null).cast("boolean"))
        .write.format("parquet").saveAsTable(s.table("orders_log"))
      b.write.format("parquet").saveAsTable(s.table("orders_dim"))
      b.write.format("parquet").partitionBy("o_orderdate").saveAsTable(s.table("orders_part"))
      spark.sql(s"CREATE TABLE ${s.table("daily_rev")} (o_orderpriority STRING, " +
        "n_orders BIGINT, revenue DECIMAL(28,2), o_orderdate DATE) USING parquet " +
        "PARTITIONED BY (o_orderdate)")
      Versioned.commit(b, s.vdir)
      s.endOf(-1) = (java.time.Instant.now(), Harness.digest(b, s.orders.columns))
      s.live = b
      s
    }
    spark.sql(s"CREATE TABLE pb_graft USING graft OPTIONS (path '${st.vdir}')")
    // One untimed day warms every code path, maintenance included. The
    // exact counts (write and space amplification, late rows) are taken
    // over this fixed day, so they repeat bit for bit at one seed.
    ctx.warmup {
      st.ingest = new EventIngest(ctx, ctx.dir("events") + "/")
      var vBytes = 0L
      dayOps(ctx, st, 0).foreach { case (kind, _, body) =>
        val before = Harness.bytesUnder(st.vdir + "/files")
        body()
        if (Set("versioned.append", "versioned.merge", "versioned.delete")(kind))
          vBytes += Harness.bytesUnder(st.vdir + "/files") - before
      }
      ctx.exact("versioned.write_amp") =
        vBytes.toDouble / Harness.bytesUnder(st.batch(0), Harness.isParquet)
      ctx.exact("stream.late_dropped") = st.ingest.lateDropped
      if (ctx.tracer.enabled) spaceAmp(ctx, st)
    }
    ctx.runGroups { g =>
      dayOps(ctx, st, g.toInt + 1).foreach { case (kind, rows, body) => ctx.op(kind, rows)(body()) }
    }
    if (!st.ingest.finish()) ctx.failKinds(_.startsWith("stream."))
    verify(ctx, st)
  }

  /** The day's ops in order, as (kind, input rows, body). Generating the
    * batch and the expected results happens here, before any op is
    * timed. */
  private def dayOps(ctx: Ctx, st: State, d: Int)(
      implicit spark: SparkSession): Seq[(String, Long, () => Boolean)] = {
    val o = st.orders
    val date = baseDays + d
    val fresh = o.rows(o.dateKeys(date, date + 1), "0")
    val upd = o.rows(o.recentKeys(updates, date, window, s"u$d"), s"d$d")
    fresh.withColumn("is_new", lit(true))
      .unionByName(upd.withColumn("is_new", lit(false)))
      .coalesce(1).write.parquet(st.batch(d))
    val batchRows = spark.read.parquet(st.batch(d)).count()
    val updRows = batchRows - perDay
    val delKeys = o.recentKeys(deletes, date, window, s"x$d").collect().map(_.getLong(0)).toSeq
    val cols = o.columns

    // Expected versioned state after today, and the digests the day's
    // reads must return.
    val prev = st.live
    val updated = upd.join(prev.select("o_orderkey"), Seq("o_orderkey"), "left_semi")
    st.live = prev.unionByName(fresh)
      .join(upd.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .unionByName(updated)
      .filter(!col("o_orderkey").isin(delKeys: _*))
      .localCheckpoint()
    val rng = new scala.util.Random(ctx.seed * 7919 + d)
    val c0 = rng.nextInt(15000 - 300) + 1
    val p0 = rng.nextInt(475000)
    val custPred = col("o_custkey").between(c0, c0 + 299)
    val pricePred = s"o_totalprice BETWEEN $p0 AND ${p0 + 25000}"
    val Seq(expectWhere, expectSql, expectChanges, liveDigest) = Harness.digests(Seq(
      st.live.filter(custPred), st.live.filter(expr(pricePred)), fresh, st.live).map(_ -> cols))
    val (asOfAt, expectAsOf) = st.endOf(d - 1)
    val staged = st.ingest.stage()

    val params = Map("batch" -> st.batch(d), "log" -> st.table("orders_log"),
      "rev" -> st.table("daily_rev"), "dim" -> st.table("orders_dim"),
      "part" -> st.table("orders_part"))
    val tr = ctx.tracer
    def etl(kind: String, target: String, rows: Long, yaml: String) =
      (s"etl.$kind", rows, { () =>
        val job = tr.layer("spec", "parse")(EtlJob.fromYaml(yaml, params))
        tr.layer("etl", kind, Some(location(st.table(target))))(job.run())
        st.mark(target, d)
        true
      })
    def read(kind: String, expected: (Long, Long))(df: => DataFrame) =
      (s"read.$kind", expected._1, { () =>
        val got = Harness.digest(df, cols)
        tr.count("read.rows_returned", got._1.toDouble)
        ctx.check(s"read.$kind on day $d returned $got, expected $expected")(got == expected)
      })
    val batchDf = () => spark.read.parquet(st.batch(d))
    var vStart = -1L
    var vAppend = -1L
    def endOfWrites(): Unit = st.endOf(d) = (java.time.Instant.now(), liveDigest)
    val maintenance = d == 0 || d % 2 == 1

    val writes = Seq(
      etl("append", "orders_log", batchRows,
        """version: 0
          |source:
          |  query: SELECT * FROM parquet.`${batch}`
          |target:
          |  table: ${log}
          |  operation: append""".stripMargin),
      etl("overwrite", "daily_rev", batchRows,
        """version: 0
          |source:
          |  query: >-
          |    SELECT o_orderpriority, count(*) AS n_orders,
          |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS revenue,
          |    o_orderdate FROM parquet.`${batch}` GROUP BY o_orderdate, o_orderpriority
          |target:
          |  table: ${rev}
          |  operation: overwrite""".stripMargin),
      etl("update", "orders_dim", updRows,
        """version: 0
          |source:
          |  query: SELECT o_orderkey, o_orderstatus, o_totalprice FROM parquet.`${batch}` WHERE NOT is_new
          |target:
          |  table: ${dim}
          |  operation: update
          |  primary_key_column: [o_orderkey]
          |  update_column: [o_orderstatus, o_totalprice]""".stripMargin),
      etl("upsert", "orders_part", batchRows,
        """version: 0
          |source:
          |  query: >-
          |    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
          |    o_orderpriority FROM parquet.`${batch}`
          |target:
          |  table: ${part}
          |  operation: upsert
          |  primary_key_column: [o_orderkey, o_orderdate]
          |  update_column: [o_orderstatus, o_totalprice, o_orderpriority]""".stripMargin),
      ("versioned.append", perDay.toLong, { () =>
        vStart = Versioned.latestVersion(spark, st.vdir)
        vAppend = tr.layer("versioned", "append")(
          Versioned.append(batchDf().filter(col("is_new")).select(cols.map(col): _*), st.vdir))
        st.mark("versioned.append", d); true
      }),
      ("versioned.merge", updRows, { () =>
        val src = batchDf().filter(!col("is_new")).select(cols.map(col): _*)
        tr.layer("versioned", "merge")(Versioned.mergeClauses(spark, st.vdir, src,
          Seq("o_orderkey"), Seq(MergeClause.MatchedUpdate(Seq(
            "o_orderstatus" -> col("SRC.o_orderstatus"),
            "o_totalprice" -> col("SRC.o_totalprice"),
            "o_orderpriority" -> col("SRC.o_orderpriority"))))))
        st.mark("versioned.merge", d); true
      }),
      ("versioned.delete", delKeys.size.toLong, { () =>
        tr.layer("versioned", "delete")(
          Versioned.delete(spark, st.vdir)(col("o_orderkey").isin(delKeys: _*)))
        st.deleted ++= delKeys
        st.mark("versioned.delete", d)
        if (!maintenance) endOfWrites()
        true
      }))
    val upkeep = if (!maintenance) Seq.empty else Seq(
      ("versioned.compact", 0L, { () =>
        tr.layer("versioned", "compact")(Versioned.compact(spark, st.vdir)); true
      }),
      ("versioned.cluster", 0L, { () =>
        tr.layer("versioned", "cluster")(
          Versioned.cluster(spark, st.vdir, Seq("o_custkey", "o_totalprice"), numGroups = 8))
        true
      }),
      // Keep yesterday's last version readable for the time-travel read.
      ("versioned.vacuum", 0L, { () =>
        tr.layer("versioned", "vacuum")(Versioned.vacuum(spark, st.vdir, vStart))
        endOfWrites()
        true
      }))
    val reads = Seq(
      read("where", expectWhere)(
        tr.layer("versioned", "read_where")(Versioned.readWhere(spark, st.vdir)(custPred))),
      read("sql", expectSql)(
        tr.layer("sources", "graft_sql")(spark.sql(s"SELECT * FROM pb_graft WHERE $pricePred"))),
      read("as_of", expectAsOf)(
        tr.layer("versioned", "read_as_of")(Versioned.readAsOf(spark, st.vdir, asOfAt))),
      read("changes", expectChanges)(
        tr.layer("versioned", "changes")(Versioned.changes(spark, st.vdir, vStart, vAppend))))
    val stream = ("stream.batch", st.ingest.rows, () => st.ingest.ingest(staged))
    val recon = ("recon.run", 2 * st.live.count(), { () =>
      tr.layer("versioned", "read")(
        Versioned.read(spark, st.vdir).createOrReplaceTempView(s"orders_v_r${st.rep}"))
      val out = tr.layer("recon", "run") {
        ReconJob.fromYaml(reconYaml(st.table("orders_part"), s"orders_v_r${st.rep}"))
          .run().filter(!(col("match_cnt") && col("match_rev")))
          .select("o_orderdate").collect().map(_.getDate(0).toLocalDate).toSet
      }
      val expected = st.deleted.map(k =>
        java.time.LocalDate.of(2024, 1, 1).plusDays(st.orders.dateOf(k).toLong)).toSet
      ctx.check(s"recon mismatches on day $d are exactly the deleted dates")(out == expected)
    })
    writes ++ upkeep ++ reads ++ Seq(stream, recon)
  }

  private def location(table: String)(implicit spark: SparkSession): String =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table)).location.getPath

  private def reconYaml(part: String, versioned: String): String =
    s"""version: 0
       |group_by: [o_orderdate]
       |data:
       |  - name: part
       |    query: SELECT * FROM $part
       |    metrics:
       |      - cnt: count(*)
       |      - rev: CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
       |  - name: ver
       |    query: SELECT * FROM $versioned
       |    metrics:
       |      - cnt: count(*)
       |      - rev: CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2))
       |""".stripMargin

  /** Every target against a plain Spark SQL recomputation from the landed
    * batch files, by order-independent digest. */
  private def verify(ctx: Ctx, st: State)(implicit spark: SparkSession): Unit = {
    val cols = st.orders.columns
    def days(t: String): Seq[Int] = st.applied.getOrElse(t, Seq.empty).toSeq
    def batches(t: String): DataFrame =
      days(t).map(d => spark.read.parquet(st.batch(d)).withColumn("day", lit(d)))
        .reduce(_ unionByName _)
    val base = spark.read.parquet(st.root + "input/base")
    base.createOrReplaceTempView("pb_base")
    def latest(view: String): String =
      s"SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY day DESC) rn " +
        s"FROM $view WHERE NOT is_new) WHERE rn = 1"
    val opOf = Map("orders_log" -> "etl.append", "daily_rev" -> "etl.overwrite",
      "orders_dim" -> "etl.update", "orders_part" -> "etl.upsert", "versioned" -> "versioned.")
    val checks = mutable.ArrayBuffer.empty[(String, DataFrame, DataFrame, Seq[String])]
    def same(name: String, actual: DataFrame, expected: DataFrame, on: Seq[String]): Unit =
      checks += ((name, actual, expected, on))

    batches("orders_log").createOrReplaceTempView("pb_log_b")
    same("orders_log", spark.table(st.table("orders_log")),
      spark.sql(s"SELECT ${cols.mkString(",")}, is_new FROM pb_log_b UNION ALL " +
        s"SELECT ${cols.mkString(",")}, NULL FROM pb_base")
        .select((cols :+ "is_new").map(col): _*), cols :+ "is_new")

    batches("daily_rev").createOrReplaceTempView("pb_rev_b")
    same("daily_rev", spark.table(st.table("daily_rev")), spark.sql(
      """SELECT o_orderpriority, count(*) AS n_orders,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS revenue, o_orderdate
        |FROM (SELECT *, max(day) OVER (PARTITION BY o_orderdate) md FROM pb_rev_b)
        |WHERE day = md GROUP BY o_orderdate, o_orderpriority""".stripMargin),
      Seq("o_orderpriority", "n_orders", "revenue", "o_orderdate"))

    batches("orders_dim").createOrReplaceTempView("pb_dim_b")
    same("orders_dim", spark.table(st.table("orders_dim")), spark.sql(
      s"""SELECT b.o_orderkey, b.o_custkey, coalesce(u.o_orderstatus, b.o_orderstatus) o_orderstatus,
         |coalesce(u.o_totalprice, b.o_totalprice) o_totalprice, b.o_orderdate, b.o_orderpriority
         |FROM pb_base b LEFT JOIN (${latest("pb_dim_b")}) u ON b.o_orderkey = u.o_orderkey""".stripMargin),
      cols)

    // Base rows plus inserted rows, overlaid with each key's latest
    // update. Upsert inserts set only the keys and update columns, so
    // o_custkey inserts as NULL.
    val part = batches("orders_part")
    part.filter(col("is_new")).createOrReplaceTempView("pb_ins")
    part.createOrReplaceTempView("pb_upd")
    val partExpected = spark.sql(
      s"""SELECT r.o_orderkey, r.o_custkey,
         |coalesce(u.o_orderstatus, r.o_orderstatus) o_orderstatus,
         |coalesce(u.o_totalprice, r.o_totalprice) o_totalprice, r.o_orderdate,
         |coalesce(u.o_orderpriority, r.o_orderpriority) o_orderpriority
         |FROM (SELECT ${cols.mkString(",")} FROM pb_base UNION ALL
         |      SELECT o_orderkey, CAST(NULL AS BIGINT), o_orderstatus, o_totalprice,
         |      o_orderdate, o_orderpriority FROM pb_ins) r
         |LEFT JOIN (${latest("pb_upd")}) u ON r.o_orderkey = u.o_orderkey""".stripMargin)
    same("orders_part", spark.table(st.table("orders_part")).select(cols.map(col): _*),
      partExpected, cols)

    same("versioned", Versioned.read(spark, st.vdir), st.live, cols)

    val got = Harness.digests(checks.toSeq.flatMap { case (_, a, e, on) => Seq(a -> on, e -> on) })
    checks.zip(got.grouped(2).toSeq).foreach { case ((name, _, _, _), Seq(a, e)) =>
      if (!ctx.check(s"$name matches its recomputation ($a vs $e)")(a == e))
        ctx.failKinds(_.startsWith(opOf(name)))
    }
  }

  /** Data bytes under the targets (the streaming sink included) over the
    * same live rows written once as plain parquet, the rows a recon
    * compares, and the file groups and deletion-vector artifacts the
    * versioned table's latest version references. */
  private def spaceAmp(ctx: Ctx, st: State)(implicit spark: SparkSession): Unit = {
    val targets = Seq("orders_log", "daily_rev", "orders_dim", "orders_part")
    val live = targets.map(t => spark.table(st.table(t))) ++
      Seq(Versioned.read(spark, st.vdir), Versioned.read(spark, st.ingest.vdir))
    val plain = live.zipWithIndex.map { case (df, i) =>
      Harness.plainBytes(df, ctx.dir(s"plain/$i"))
    }.sum
    val onDisk = targets.map(t => Harness.bytesUnder(location(st.table(t)), Harness.isParquet)).sum +
      Harness.bytesUnder(st.vdir + "/files") + Harness.bytesUnder(st.ingest.vdir + "/files")
    ctx.exact("space_amp") = onDisk.toDouble / plain
    ctx.exact("recon.rows_compared") = live(3).count().toDouble + live(4).count()
    val h = Versioned.describeHistory(spark, st.vdir).orderBy(col("version").desc).head()
    ctx.exact("versioned.files_live") = h.getAs[Long]("n_files").toDouble
    ctx.exact("versioned.dv_groups_live") = h.getAs[Long]("dv_files").toDouble
  }
}
