package graftbench

import graft.{GraftSession, InternalCaches}
import graft.sources.Tables
import graft.operators.{AsOf, AtomicIncrement, Etl, Funnel, IncrementalAgg,
  Maintenance, RangeJoin, Relational}
import graft.streaming.MergeStream
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Closed-loop benchmark client: one thread calls the engine's public
  * functions, times each call, checks its result outside the timed
  * window, and writes every span and count to one JSON file that
  * `perfbench/run.py` turns into metrics.
  *
  * Usage: PerfBench key=value ... with keys workload, data, work, out,
  * plan, seconds, trace (0|1), setups, t0 (epoch ms of process start)
  * and inject (operation kind whose first timed result is replaced by a
  * wrong value, for the self-tests).
  */
object PerfBench {

  /** One timed call. Times are epoch ms with sub-ms digits. */
  final case class Op(layer: String, kind: String, block: Int, traced: Boolean,
      startMs: Double, endMs: Double, ok: Boolean, extra: Map[String, Double])

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final class Ctx(val args: Map[String, String]) {
    val work: String = args("work")
    val data: String = args("data")
    val seconds: Double = args("seconds").toDouble
    val trace: Boolean = args("trace") == "1"
    var spark: SparkSession = _
    val ops = mutable.ArrayBuffer[Op]()
    val problems = mutable.ArrayBuffer[String]()
    val setupMs = mutable.ArrayBuffer[Double]()
    val sessionMs = mutable.ArrayBuffer[Double]()
    val results = mutable.LinkedHashMap[String, String]()
    var beforeStop: () => Unit = () => ()
    val recorder = new Recorder
    var block = -1
    var traced = false
    private var injected = args.getOrElse("inject", "").isEmpty

    /** Run `body` as one timed operation, then compare `observe(result)`
      * with `expect`. Blocks below 0 are set-up and warm-up: checked
      * but not recorded. */
    def op[T](layer: String, kind: String, expect: => Any)(body: => T)(
        observe: T => Any,
        extra: T => Map[String, Double] = (_: T) => Map.empty[String, Double])
        : Option[T] = {
      val t0 = nowMs
      val res = try Right(body) catch { case e: Throwable => Left(e) }
      val t1 = nowMs
      val (ok, out) = res match {
        case Right(r) =>
          val seen0 = try observe(r) catch { case e: Throwable => e.toString }
          val seen =
            if (!injected && block >= 0 && kind == args("inject")) {
              injected = true; ("injected", seen0)
            } else seen0
          val want = expect
          if (seen != want)
            problems += s"$kind (block $block): got $seen, expected $want"
          (seen == want, Some(r))
        case Left(e) =>
          problems += s"$kind (block $block) threw: $e"
          (false, None)
      }
      if (block >= 0)
        ops += Op(layer, kind, block, traced, t0, t1, ok,
          out.map(extra).getOrElse(Map.empty))
      dropCaches()
      out
    }

    /** Between operations, the way `graft.Bench` does it. */
    def dropCaches(): Unit = {
      InternalCaches.drain()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }

    /** Timed blocks until `seconds` have passed (at least `minBlocks`);
      * in a traced run every other block runs with the listeners on. */
    def loop(minBlocks: Int, maxBlocks: Int)(runBlock: Int => Unit): Unit = {
      val start = nowMs
      var b = 0
      while (b < maxBlocks &&
          (b < minBlocks || nowMs - start < seconds * 1000)) {
        block = b
        traced = trace && b % 2 == 0
        if (traced) recorder.register(spark)
        runBlock(b)
        if (traced) recorder.unregister(spark)
        b += 1
      }
      block = -1
      traced = false
    }
  }

  // ---------------------------------------------------------------- etl

  def etlDefs: Map[String, graft.QueryDef] = Relational.defs ++ Etl.defs ++
    AsOf.defs ++ RangeJoin.defs ++ Funnel.defs

  /** Order-insensitive digest of a result: row count, column names and
    * the 64-bit sum of per-row hashes. Doubles are rounded to 9
    * significant digits, far inside the oracle's 1e-9 tolerance on the
    * queries' own rounding. */
  def digest(df: DataFrame, rows: Array[Row]): String = {
    def v(x: Any): String = x match {
      case null => "∅"
      case d: Double => canonDouble(d)
      case f: Float => canonDouble(f.toDouble)
      case s: scala.collection.Seq[_] => s.map(v).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(v).mkString("{", ",", "}")
      case o => o.toString
    }
    var sum = 0L
    rows.foreach { r =>
      val s = r.toSeq.map(v).mkString("\u0001")
      val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x2545f491)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x9e3779b9)
      sum += (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
    }
    s"${rows.length}:${df.columns.sorted.mkString(",")}:${java.lang.Long.toHexString(sum)}"
  }

  def canonDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros.toPlainString

  def etl(ctx: Ctx, plan: Plan): Unit = {
    val defs = etlDefs
    val want = plan.expect
    val names = plan.passes.head.sorted
    val unknown = names.filterNot(n => defs.contains(n) && want.contains(n))
    require(unknown.isEmpty, s"unknown or unpinned queries: $unknown")
    def run(name: String): Unit =
      ctx.op("operators", name, want(name)) {
        val df = defs(name).fn(ctx.spark, ctx.data)
        (df, df.collect())
      } { case (df, rows) => digest(df, rows) }
    setups(ctx) { () =>
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events").foreach(Tables.table(ctx.spark, ctx.data, _))
    } { () =>
      // passes keep getting faster until about the fourth, as the JIT
      // compiles the planner's and the generated code's hot paths; two
      // untimed passes are what the run length leaves room for
      for (_ <- 1 to 2) names.foreach(run)
    }
    ctx.loop(2, plan.passes.size)(b =>
      plan.passes(b).foreach(run))
  }

  /** Pin mode: each query's result as parquet plus its digest and
    * oracle SQL, for `pin_digests.py` to check against DuckDB. */
  def pin(ctx: Ctx): Unit = {
    ctx.spark = GraftSession.getOrCreate()
    val out = ctx.args("out")
    val lines = etlDefs.toSeq.sortBy(_._1).map { case (name, d) =>
      val df = d.fn(ctx.spark, ctx.data)
      val rows = df.collect()
      ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      Files.writeString(Paths.get(s"$out/$name.sql"), d.oracle.getOrElse(""))
      ctx.dropCaches()
      s"""  "$name": "${digest(df, rows)}""""
    }
    Files.writeString(Paths.get(s"$out/digests.json"),
      lines.mkString("{\n", ",\n", "\n}\n"))
  }

  // --------------------------------------------------------------- lake

  /** Columns of the lake table and the change stream. */
  type Order = (Long, Long, String, Double, String)
  type Change = (Long, Long, String, Double, String, Long, Boolean)
  val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderpriority")

  /** The table's contents as the benchmark expects them, kept beside
    * the sinks so every check compares against an independent model. */
  final class Model(src: Map[Long, Order]) {
    val rows = mutable.HashMap[Long, Order]()
    val appended = mutable.ArrayBuffer[Order]()
    /** table version -> (rows, Σ price, commit time) */
    val versions = mutable.ArrayBuffer[(Long, (Long, Double), Long)]()
    def agg(p: Order => Boolean = _ => true): (Long, Double) = {
      val s = rows.values.filter(p)
      (s.size.toLong, s.iterator.map(_._4).sum)
    }
    def slice(keys: Seq[Long]): Seq[Order] = keys.map(src)
    def after(k: Long, round: Int, del: Boolean): Change = {
      val (_, c, st, p, pr) = rows(k)
      if (del) (k, c, st, p, pr, round.toLong, true)
      else (k, c, "U", math.rint(p * 110 + 100) / 100, pr, round.toLong, false)
    }
  }

  def aggOf(df: DataFrame, c: String = "o_totalprice"): (Long, Double) = {
    val r = df.agg(count(lit(1)), coalesce(sum(c), lit(0.0))).head()
    (r.getLong(0), r.getDouble(1))
  }

  final class Lake(ctx: Ctx, val plan: Plan, dir: String) {
    val spark: SparkSession = ctx.spark
    import spark.implicits._
    val table = s"$dir/table"
    val rollup = s"$dir/rollup"
    val cdc = s"$dir/cdc_rollup"
    val src: Map[Long, Order] = spark.read.parquet(s"${ctx.data}/orders.parquet")
      .select(cols.map(col): _*).as[Order].collect().map(o => o._1 -> o).toMap
    val model = new Model(src)
    val changes = mutable.HashMap[Int, Seq[Change]]()
    val cdcInputs = mutable.HashMap[Int, (Seq[Order], Seq[Order])]()
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Change]
    val stream: StreamingQuery = MergeStream.applyStream(
      mem.toDF().toDF(cols :+ "v" :+ "del": _*), table, "o_orderkey", "v",
      "del", s"$dir/checkpoint", trigger = Trigger.ProcessingTime(0))

    def version(sink: String): Long = AtomicIncrement.snapshot(spark, sink)._1
    def df(rows: Seq[Order]): DataFrame = rows.toDF(cols: _*)
    def changesDf(i: Int): DataFrame = changes(i).toDF(cols :+ "v" :+ "del": _*)
    def sliceKeys(i: Int): Seq[Long] =
      (i.toLong * plan.sliceRows until (i + 1L) * plan.sliceRows).filter(src.contains)
    def noteVersion(): Unit = model.versions +=
      ((version(table), model.agg(), System.currentTimeMillis()))
    /** Rounds applied so far, and the oldest table version still readable. */
    var rounds = 0
    var readableFrom = 0L

    /** One ingest round: append the slice, fold it into the rollup,
      * fold slice + churn into the CDC rollup, stream the churn into
      * the table. */
    def round(i: Int): Unit = {
      rounds = i + 1
      val slice = model.slice(sliceKeys(i))
      val v0 = version(table)
      val r0 = version(rollup)
      val c0 = version(cdc)
      ctx.op("commit", "append", (slice.size.toLong, v0 + 1))(
        AtomicIncrement.appendIncrementAtomic(df(slice), table, "o_orderkey"))(
        n => (n, version(table)),
        _ => Map("versions" -> (version(table) - v0).toDouble))
      slice.foreach(o => model.rows(o._1) = o)
      model.appended ++= slice
      noteVersion()
      ctx.op("commit", "fold", (slice.size.toLong, r0 + 1))(
        IncrementalAgg.mergeBatch(df(slice), rollup, Seq("o_orderstatus"),
          Seq("o_totalprice"), "o_orderkey"))(n => (n, version(rollup)),
        _ => Map("versions" -> (version(rollup) - r0).toDouble))
      val churn = plan.churn.getOrElse(i, Nil).map { case (k, del) =>
        model.after(k, i, del) }
      val before = churn.map(c => model.rows(c._1))
      val plus = slice ++ churn.filterNot(_._7).map(c => (c._1, c._2, c._3, c._4, c._5))
      cdcInputs(i) = (plus, before)
      ctx.op("commit", "merge", (true, c0 + 1))(
        IncrementalAgg.mergeCdcBatch(df(plus), df(before), cdc,
          Seq("o_orderstatus"), Seq("o_totalprice"), i.toLong))(
        ok => (ok, version(cdc)),
        _ => Map("versions" -> (version(cdc) - c0).toDouble))
      if (churn.nonEmpty) {
        changes(i) = churn
        val t0 = version(table)
        churn.foreach { c =>
          if (c._7) model.rows.remove(c._1)
          else model.rows(c._1) = (c._1, c._2, c._3, c._4, c._5)
        }
        ctx.op("streaming", "batch", (t0 + 1, None)) {
          mem.addData(churn)
          stream.processAllAvailable()
        } { _ => (version(table), stream.exception) }
        noteVersion()
      }
    }

    def maintain(): Unit = {
      val want = model.agg()
      ctx.op("commit", "maintain", (true, Approx(want)))(
        Maintenance.maintainAtomic(spark,
          Maintenance.Target(table, targetFiles = 1)))(
        r => (r.filesAfter <= 1,
          Approx(aggOf(AtomicIncrement.readCommitted(spark, table)))))
      noteVersion()
      readableFrom = version(table)
    }

    /** Bytes on disk under the sinks over bytes of the files their
      * current snapshots reference, and the two file counts. */
    def space(): Map[String, Double] = {
      var disk, live = 0L
      var nDisk, nLive = 0
      for (s <- Seq(table, rollup, cdc)) {
        Files.walk(Paths.get(s)).iterator().asScala
          .filter(Files.isRegularFile(_)).foreach { p =>
            disk += Files.size(p)
            if (p.toString.endsWith(".parquet")) nDisk += 1
          }
        AtomicIncrement.committedFiles(spark, s).foreach { f =>
          live += Files.size(Paths.get(s, f)); nLive += 1
        }
      }
      Map("space_amp" -> disk.toDouble / live, "files_live" -> nLive,
        "files_total" -> nDisk)
    }

    /** The final table and both rollups against the model and a plain
      * rescan of the source with the same changes applied. */
    def finalCheck(): Unit = {
      def fail(m: String): Unit = ctx.problems += s"final check: $m"
      val got = AtomicIncrement.readCommitted(spark, table)
        .select(cols.map(col): _*).as[Order].collect()
      if (got.length != model.rows.size ||
          got.exists(o => !model.rows.get(o._1).contains(o)))
        fail(s"table has ${got.length} rows, expected ${model.rows.size}")
      val srcDf = spark.read.parquet(s"${ctx.data}/orders.parquet")
        .filter(col("o_orderkey") <= model.appended.map(_._1).max)
      val wantR = srcDf.groupBy("o_orderstatus").agg(count(lit(1)),
        sum("o_totalprice"), max("o_orderkey"))
        .as[(String, Long, Double, Long)].collect().sortBy(_._1).toSeq
      val gotR = IncrementalAgg.readState(spark, rollup)
        .select("o_orderstatus", "__n", "sum_o_totalprice", "__wm")
        .as[(String, Long, Double, Long)].collect().sortBy(_._1).toSeq
      if (gotR.size != wantR.size || gotR.zip(wantR).exists { case (a, b) =>
          a._1 != b._1 || a._4 != b._4 || Approx((a._2, a._3)) != Approx((b._2, b._3)) })
        fail(s"rollup $gotR, expected $wantR")
      val wantS = model.rows.values.groupBy(_._3).map { case (k, v) =>
        (k, (v.size.toLong, v.iterator.map(_._4).sum)) }
      val gotS = IncrementalAgg.readState(spark, cdc)
        .select("o_orderstatus", "__n", "sum_o_totalprice")
        .as[(String, Long, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      if (gotS.keySet != wantS.keySet ||
          gotS.exists { case (k, a) => Approx(a) != Approx(wantS(k)) })
        fail(s"cdc rollup $gotS, expected $wantS")
    }

    def stop(): Unit = { stream.stop(); stream.awaitTermination() }
  }

  /** Ingest rounds with redeliveries and reads between them. Each block
    * runs `roundsPerBlock` rounds, then one plan block of replays and
    * reads, then a maintenance pass. */
  def lake(ctx: Ctx, plan: Plan): Unit = {
    var lake: Lake = null
    ctx.beforeStop = () => if (lake != null) lake.stop()
    setups(ctx) { () =>
      lake = new Lake(ctx, plan, newDir(ctx, "lake"))
    } { () =>
      // the warm rounds, the last of them shaped as a whole block
      for (i <- 0 until plan.warmRounds) {
        lake.round(i)
        if (i == plan.warmRounds - 1)
          plan.blocks.head.foreach(o => replayOp(ctx, lake, o))
        lake.maintain()
      }
    }
    val spaceAfterFirst = mutable.Map[String, Double]()
    try {
      ctx.loop(2, math.min(plan.blocks.size,
          (plan.rounds - plan.warmRounds) / plan.roundsPerBlock)) { b =>
        for (_ <- 0 until plan.roundsPerBlock) lake.round(lake.rounds)
        plan.blocks(b).foreach(o => replayOp(ctx, lake, o))
        lake.maintain()
        if (b == 0) spaceAfterFirst ++= lake.space()
      }
      lake.finalCheck()
      ctx.results ++= spaceAfterFirst.map { case (k, v) => k -> v.toString }
    } finally lake.stop()
  }

  /** One redelivery or read. Arguments are fractions in [0, 1) that
    * pick a slice, a churned round, a version or a key bound. */
  def replayOp(ctx: Ctx, lake: Lake, o: PlanOp): Unit = {
    val spark = lake.spark
    val m = lake.model
    def pick[T](xs: Seq[T], f: Double): T = xs((f * xs.size).toInt min (xs.size - 1))
    val slices = 0 until lake.rounds
    val churned = lake.changes.keys.toSeq.sorted
    // maintenance vacuums the files of every version before its own
    val vs = m.versions.toSeq.filter(_._1 >= lake.readableFrom)
    def vers = (lake.version(lake.table), lake.version(lake.rollup),
      lake.version(lake.cdc))
    o.kind match {
      case "replay_append" =>
        val i = pick(slices, o.a)
        val v = vers
        ctx.op("commit", "replay_append", (0L, v))(
          AtomicIncrement.appendIncrementAtomic(
            lake.df(m.slice(lake.sliceKeys(i))), lake.table, "o_orderkey"))(
          n => (n, vers), noop(lake, v))
      case "replay_fold" =>
        val i = pick(slices, o.a)
        val v = vers
        ctx.op("commit", "replay_fold", (0L, v))(
          IncrementalAgg.mergeBatch(lake.df(m.slice(lake.sliceKeys(i))),
            lake.rollup, Seq("o_orderstatus"), Seq("o_totalprice"),
            "o_orderkey"))(n => (n, vers), noop(lake, v))
      case "replay_cdc" =>
        val i = pick(lake.cdcInputs.keys.toSeq.sorted, o.a)
        val (plus, minus) = lake.cdcInputs(i)
        val v = vers
        ctx.op("commit", "replay_cdc", (false, v))(
          IncrementalAgg.mergeCdcBatch(lake.df(plus), lake.df(minus), lake.cdc,
            Seq("o_orderstatus"), Seq("o_totalprice"), i.toLong))(
          ok => (ok, vers), noop(lake, v))
      case "replay_stream" =>
        val i = pick(churned, o.a)
        val (t, r, c) = vers
        val want = m.agg()
        ctx.op("streaming", "replay", ((r, c), Approx(want)))(
          MergeStream.applyBatchStep(lake.changesDf(i), i.toLong,
            lake.table, "o_orderkey", "v", "del", Some(lake.cdc),
            Seq("o_orderstatus"), Seq("o_totalprice")))(
          _ => ((lake.version(lake.rollup), lake.version(lake.cdc)),
            Approx(aggOf(AtomicIncrement.readCommitted(spark, lake.table)))),
          _ => Map("table_versions" -> (lake.version(lake.table) - t).toDouble))
      case "pruned" =>
        val lower = (o.a * m.appended.size).toLong
        val want = m.agg(_._1 > lower)
        val committed = AtomicIncrement.committedFiles(spark, lake.table).size
        ctx.op("read", "pruned", Approx(want)) {
          val d = AtomicIncrement.readCommittedAbove(spark, lake.table,
            "o_orderkey", lower)
          (d, aggOf(d.filter(col("o_orderkey") > lower)))
        }(r => Approx(r._2), r => Map(
          "files_scanned" -> r._1.inputFiles.length.toDouble,
          "files_committed" -> committed.toDouble))
      case "as_of" =>
        val (_, want, ts) = pick(vs, o.a)
        ctx.op("read", "as_of", Approx(want))(
          aggOf(AtomicIncrement.readVersionAsOf(spark, lake.table, ts)))(
          r => Approx(r))
      case "history" =>
        val v = lake.version(lake.table)
        ctx.op("read", "history", (v, v)) {
          val r = AtomicIncrement.history(spark, lake.table)
            .agg(count(lit(1)), max("version")).head()
          (r.getLong(0), r.getLong(1))
        }(identity)
      case "changes" =>
        // two distinct versions, so that every call reads a change set
        val ds = vs.distinctBy(_._1)
        val lo = pick(ds.init, o.a)
        val hi = pick(ds.filter(_._1 > lo._1), o.b)
        val want = (hi._2._1 - lo._2._1, hi._2._2 - lo._2._2)
        ctx.op("read", "changes", Approx(want)) {
          val (plus, minus) = AtomicIncrement.changesBetween(spark,
            lake.table, lo._1, hi._1)
          val p = aggOf(plus)
          val n = aggOf(minus)
          (p._1 - n._1, p._2 - n._2)
        }(r => Approx(r))
    }
  }

  /** Compares a (count, sum) pair: counts exactly, sums within a relative
    * 1e-9, far above the rounding of a double sum over these tables. */
  final case class Approx(v: (Long, Double)) {
    override def equals(o: Any): Boolean = o match {
      case Approx(w) => v._1 == w._1 &&
        math.abs(v._2 - w._2) <= 1e-9 * math.max(1.0, math.abs(w._2))
      case _ => false
    }
    override def hashCode: Int = v._1.hashCode
  }

  private def noop(lake: Lake, v: (Long, Long, Long))(r: Any)
      : Map[String, Double] = {
    val (t, a, c) = (lake.version(lake.table), lake.version(lake.rollup),
      lake.version(lake.cdc))
    Map("versions" -> ((t - v._1) + (a - v._2) + (c - v._3)).toDouble)
  }

  // -------------------------------------------------------------- setup

  def newDir(ctx: Ctx, name: String): String =
    Files.createTempDirectory(Paths.get(ctx.work), name).toString

  /** Set the workload up `setups` times, each time with a fresh session
    * and fresh sinks, then warm the last set-up untimed. The first
    * sample runs from process start; the warm-up, which pays JIT and
    * code generation, is reported on its own. */
  def setups(ctx: Ctx)(prepare: () => Unit)(warmUp: () => Unit): Unit = {
    val n = ctx.args("setups").toInt
    for (s <- 0 until n) {
      val t0 = if (s == 0) ctx.args("t0").toDouble else nowMs
      if (ctx.spark != null) { ctx.beforeStop(); ctx.spark.stop() }
      val s0 = nowMs
      ctx.spark = GraftSession.getOrCreate()
      ctx.sessionMs += nowMs - s0
      prepare()
      ctx.setupMs += nowMs - t0
    }
    val w0 = nowMs
    warmUp()
    ctx.results("warmup_ms") = (nowMs - w0).toString
  }

  // --------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val ctx = new Ctx(args)
    val plan = Plan.read(args.getOrElse("plan", ""))
    args("workload") match {
      case "pin" => pin(ctx); ctx.spark.stop(); return
      case "etl_queries" => etl(ctx, plan)
      case "lake" => lake(ctx, plan)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    org.apache.spark.GraftBenchBus.drain(ctx.spark.sparkContext)
    // heap a full collection left live, summed over the heap pools; the
    // least of three, because Spark's cleaner frees broadcast and shuffle
    // state only after a collection has cleared the objects that own it
    val live = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans
        .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    }.min
    ctx.results("heap_live_mb") = (live / 1048576.0).toString
    ctx.spark.stop()
    Report.write(ctx, args("out"))
  }
}
