package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{call_function, col, lit, size, typedLit}
import org.json4s.{DefaultFormats, Extraction, JDouble, JNull}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.{CacheLife, Catalog, Pipeline, Sessions, SparkEntry, StoreBuild, Tables}
import graft.functions.TextFunctions
import graft.operators._
import graft.sources.{Ohlcv, TextLayout, Warehouse}

/** The benchmark's runner: one closed-loop client thread runs one
  * workload against a local[nproc] session and writes a run record.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir>
  * <workDir> <goldenDir> <recordDir> [dumpDir]`. With a dump directory the
  * run also writes every query result there as parquet, with its
  * fingerprint, for the DuckDB cross-check of the golden fingerprints.
  */
object Main {

  /** Relational registries (`analytics`) and curation registries
    * (`curation`), by module name.
    */
  val analyticsModules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "CoreQueries" -> CoreQueries.queries, "RelationalQueries" -> RelationalQueries.queries,
    "SqlQueries" -> SqlQueries.queries, "TemporalQueries" -> TemporalQueries.queries)
  val curationModules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "TextQueries" -> TextQueries.queries, "DedupQueries" -> DedupQueries.queries,
    "SubstrDedup" -> SubstrDedup.queries, "SimilarityQueries" -> SimilarityQueries.queries,
    "MultimodalQueries" -> MultimodalQueries.queries)
  val modules: Seq[String] = (analyticsModules ++ curationModules).map(_._1)
  val sourceModules = Seq("Ohlcv", "Warehouse", "Interchange")

  /** Simulated time per workload unit on the 4-core reference host; a
    * run does max(min, seconds / unit) units, so its work depends only
    * on `--seconds`, never on how fast the build under test is.
    */
  val unitSeconds = Map("ingest" -> 20.0, "analytics" -> 20.0, "curation" -> 45.0)
  val minUnits = Map("ingest" -> 2, "analytics" -> 1, "curation" -> 1)
  /** The reference's day: 288 five-minute ticks. The last `TickSlots`
    * of each simulated day are timed ticks; the slots before them are
    * written, untimed, as the history those ticks would have left.
    */
  val SlotsPerDay = 288
  val TickSlots = 2
  /** Ticks of the set-up's warm-up day. */
  val WarmTicks = 3

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, data, work, golden, recordDir) = argv.take(8)
    val run = new Run(workload, seedS.toLong, secondsS.toInt, traceS == "1",
      data, Paths.get(work), Paths.get(golden), Paths.get(recordDir), argv.lift(8))
    run.execute()
  }

  final case class Op(id: Long, kind: String, name: String, module: String,
                      round: Int, traced: Boolean, seconds: Double, cpuS: Double,
                      constructS: Double, executeS: Double, error: Option[String])

  /** The innermost cause's class, the root cause of a failed operation. */
  def rootCause(e: Throwable): String = {
    var c = e
    while (c.getCause != null && (c.getCause ne c)) c = c.getCause
    c.getClass.getSimpleName
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile with linear interpolation; failed operations
    * enter as +inf, so they count as missing every percentile.
    */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      if (lo == hi || s(hi).isInfinite) s(hi) else s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  final class Run(workload: String, seed: Long, seconds: Int, trace: Boolean,
                  data: String, work: Path, golden: Path, recordDir: Path,
                  dump: Option[String]) {
    private val t00 = System.nanoTime()
    val ops = mutable.ArrayBuffer.empty[Op]
    val failures = mutable.ArrayBuffer.empty[(String, String)]
    var checks = 0L; var checksFailed = 0L
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val detail = mutable.LinkedHashMap.empty[String, Any]
    val host = mutable.LinkedHashMap.empty[String, Any]
    var spark: SparkSession = _
    var tracer: Option[Tracer] = None
    private var nextOp = 0L

    def execute(): Unit = {
      require(unitSeconds.contains(workload), s"unknown workload $workload")
      Files.createDirectories(work)
      Files.createDirectories(recordDir)
      host("before") = Host.sample()
      val (steal0, total0) = Host.stealTicks()
      val tSetup = System.nanoTime()
      spark = Sessions.local()
      layer("sessions.start_s") = (System.nanoTime() - tSetup) / 1e9
      if (trace) tracer = Some(new Tracer(spark))
      val units = math.max(minUnits(workload), (seconds / unitSeconds(workload)).toInt)
      workload match {
        case "ingest" => ingest(tSetup, units)
        case "analytics" => queries(tSetup, units, analyticsModules, curation = false)
        case "curation" => queries(tSetup, units, curationModules, curation = true)
      }
      if (trace && workload == "analytics") storeProbe()
      if (trace) functionProbes()
      tracer.foreach(_.close())
      host("after") = Host.sample()
      val (steal1, total1) = Host.stealTicks()
      host("steal_share") = (steal1 - steal0).toDouble / math.max(total1 - total0, 1L)
      e2e("peak_rss_mb") = Host.peakRssMb()
      if (trace) traceLayers()
      write()
      CacheLife.release(spark)
      spark.stop()
    }

    // ---- operations -------------------------------------------------

    /** Whether the operation in progress is traced. */
    private var tracing = false

    private def sp[T](name: String, id: Long)(body: => T): T =
      tracer.filter(_ => tracing).fold(body)(_.span(name, id)(body))

    /** One closed-loop operation: the client issues it, waits for it and
      * lets the listener bus settle before the next one. Its latency is
      * the wall time of `body`, which returns its construct / execute
      * split (zeros when it has none).
      */
    private def op(kind: String, name: String, module: String, round: Int, traced: Boolean)(
        body: Long => (Double, Double)): Unit = {
      nextOp += 1
      val id = nextOp
      val tr = traced && tracer.isDefined
      tracing = tr
      if (tr) tracer.get.begin(id)
      val c0 = Host.cpuNs()
      val t0 = System.nanoTime()
      val (constructS, executeS, error) =
        try { val (c, e) = sp("op", id)(body(id)); (c, e, None) }
        catch { case e: Exception => (0.0, 0.0, Some(rootCause(e))) }
      val sec = (System.nanoTime() - t0) / 1e9
      val cpu = (Host.cpuNs() - c0) / 1e9
      if (tr) tracer.get.end() else Tracer.settle(spark)
      error.foreach(c => failures += (name -> c))
      ops += Op(id, kind, name, module, round, tr, sec, cpu, constructS, executeS, error)
    }

    private def check(name: String)(ok: => Boolean): Unit = {
      checks += 1
      val passed = try ok catch { case e: Exception => failures += (name -> rootCause(e)); false }
      if (!passed) {
        checksFailed += 1
        if (!failures.exists(_._1 == name)) failures += (name -> "CorrectnessMismatch")
      }
    }

    // ---- ingest ---------------------------------------------------------

    private def ingest(tSetup: Long, days: Int): Unit = {
      val root = work.resolve("pipeline").toString
      Gen.Coins.foreach { case (coin, _, _) =>
        Warehouse.createIfNotExists(spark, s"$root/ingest/$coin")
      }
      // warm-up, part of set-up: a day of seed-0 `bitcoin` candles into a
      // separate root (history, then `WarmTicks` ticks and the close-out),
      // the same for every seed, so the JIT cost of ticks over a table
      // with history does not land in the timed days
      val warm = work.resolve("warmup").toString
      val (warmCoin, _, _) = Gen.Coins.head
      val warmDay = Gen.candles(0L, 0, 1, SlotsPerDay)
      writeHistory(Seq((s"$warm/ingest/$warmCoin", warmDay.take(SlotsPerDay - WarmTicks), 0L)))
      warmDay.drop(SlotsPerDay - WarmTicks).foreach(c =>
        Pipeline.ingestTick(spark, warm, warmCoin, Seq(Gen.payload(Seq(c)))))
      Pipeline.dailyCloseout(spark, warm, warmCoin, Gen.FirstDay.toString, "warmup")
      Tracer.settle(spark)
      e2e("setup_s") = (System.nanoTime() - tSetup) / 1e9
      val candles = Gen.Coins.indices.map(i => Gen.candles(seed, i, days, SlotsPerDay))
      var payloadBytes = 0L
      val fills = mutable.ArrayBuffer.empty[Double]
      for (d <- 0 until days) {
        val histories = Gen.Coins.map(_._1).zipWithIndex.map { case (coin, ci) =>
          (s"$root/ingest/$coin", candles(ci).slice(d * SlotsPerDay, (d + 1) * SlotsPerDay - TickSlots),
            d.toLong * SlotsPerDay)
        }
        payloadBytes += histories.flatMap(_._2).map(c => Gen.payload(Seq(c)).getBytes("UTF-8").length.toLong).sum
        val t = System.nanoTime()
        writeHistory(histories)
        fills += (System.nanoTime() - t) / 1e9
        for (s <- SlotsPerDay - TickSlots until SlotsPerDay;
             (coin, ci) <- Gen.Coins.map(_._1).zipWithIndex) {
          val payload = Gen.payload(Seq(candles(ci)(d * SlotsPerDay + s)))
          payloadBytes += payload.getBytes("UTF-8").length
          // a traced run traces every other tick
          op("tick", s"ingestTick:$coin", "Pipeline", d, ops.count(_.kind == "tick") % 2 == 0) { id =>
            sp("pipeline.ingestTick", id)(Pipeline.ingestTick(spark, root, coin, Seq(payload)))
            (0.0, 0.0)
          }
        }
        val day = Gen.FirstDay.plusDays(d.toLong)
        Gen.Coins.foreach { case (coin, _, _) =>
          op("closeout", s"dailyCloseout:$coin", "Pipeline", d, d % 2 == 0) { id =>
            sp("pipeline.dailyCloseout", id)(Pipeline.dailyCloseout(
              spark, root, coin, day.toString, day.toString.replace("-", "") + "T000000"))
            (0.0, 0.0)
          }
        }
      }
      // correctness, untimed
      val closedDays = (0 until days).map(d => Gen.FirstDay.plusDays(d.toLong).toString).toSet
      var rows = 0L
      Gen.Coins.map(_._1).zipWithIndex.foreach { case (coin, ci) =>
        val got = Warehouse.table(spark, s"$root/ingest/$coin").collect().toSeq
        rows += got.size
        val want = candles(ci)
        def key(r: org.apache.spark.sql.Row): Seq[Any] = Seq(
          micros(r.getTimestamp(1)), micros(r.getTimestamp(2)), micros(r.getTimestamp(3)),
          micros(r.getTimestamp(4)), r.getInt(5), r.getInt(6), r.getInt(7), r.getInt(8),
          r.getDouble(9), r.getInt(10), r.getDate(11).toLocalDate.toString)
        def half(x: BigDecimal): Int = x.setScale(0, BigDecimal.RoundingMode.HALF_UP).toInt
        def wantKey(c: Gen.Candle): Seq[Any] = Seq(
          micros(c.start), micros(c.end), micros(c.open), micros(c.close),
          half(c.priceOpen), half(c.priceHigh), half(c.priceLow), half(c.priceClose),
          c.volume.toDouble, c.trades, c.day.toString)
        check(s"check:$coin:each_candle_once") {
          got.map(key).groupBy(identity).view.mapValues(_.size).toMap ==
            want.map(wantKey).groupBy(identity).view.mapValues(_.size).toMap
        }
        check(s"check:$coin:ids_contiguous") {
          got.map(_.getLong(0)).sorted == (1L to want.size.toLong)
        }
        check(s"check:$coin:prices_half_up") {
          val byStart = want.map(c => micros(c.start) -> c).toMap
          got.forall { r =>
            byStart.get(micros(r.getTimestamp(1))).exists { c =>
              Seq(c.priceOpen, c.priceHigh, c.priceLow, c.priceClose).map(half) ==
                (5 to 8).map(r.getInt)
            }
          }
        }
        check(s"check:$coin:warehouse_equals_closed_days") {
          val wh = Warehouse.table(spark, s"$root/warehouse/$coin").collect().toSeq
          rows += wh.size
          def full(r: org.apache.spark.sql.Row): String = r.toSeq.mkString("|")
          wh.map(full).sorted == got.filter(r => closedDays(r.getDate(11).toLocalDate.toString))
            .map(full).sorted
        }
      }
      val (files, bytes) = Host.du(Paths.get(root))
      detail("stored_bytes") = bytes
      detail("payload_bytes") = payloadBytes
      e2e("stored_bytes_per_input_byte") = bytes.toDouble / payloadBytes
      val (whFiles, whBytes) = Host.du(Paths.get(root), p => p.toString.endsWith(".parquet"))
      layer("sources.warehouse_files") = whFiles.toDouble
      layer("sources.warehouse_bytes_per_row") = whBytes.toDouble / math.max(rows, 1L)
      detail("days") = days
      detail("slots_per_day") = SlotsPerDay
      detail("tick_slots_per_day") = TickSlots
      detail("history_fill_s") = fills.sum
      detail("stored_files") = files
      latencyMetrics("tick", "tick")
      latencyMetrics("closeout", "closeout")
      val timed = ops.map(_.seconds).sum
      e2e("ingest_rows_per_s") = ops.count(o => o.kind == "tick" && o.error.isEmpty) / timed
      e2e("ops_per_s") = e2e("ingest_rows_per_s")
      e2e("op_p50_s") = e2e("tick_p50_s")
      e2e("cpu_s_per_op") = e2e("tick_cpu_s")
    }

    /** History, untimed, for each (table, candles, rows already in the
      * table): the candles as 1-candle payloads through the engine's own
      * parse and id assignment (ids after the rows already there, as
      * ticks would number them), appended in one job per table as one
      * file per candle, the layout that many 1-candle ticks leave. The
      * tables are written side by side.
      */
    private def writeHistory(tables: Seq[(String, Seq[Gen.Candle], Long)]): Unit = {
      spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
      try parallel(tables.map { case (tbl, history, rowsBefore) => () =>
        Warehouse.createIfNotExists(spark, tbl)
        Warehouse.append(Ohlcv.assignIds(Ohlcv.fromJson(spark, history.map(c => Gen.payload(Seq(c)))),
          rowsBefore).repartition(spark.sparkContext.defaultParallelism), tbl)
      })
      finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
      Tracer.settle(spark)
    }

    /** Runs `tasks` `nproc` at a time and returns their results in order.
      * Only for untimed work, between timed operations.
      */
    private def parallel[T](tasks: Seq[() => T]): Seq[T] = {
      val pool = Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try Await.result(Future.traverse(tasks)(t => Future(t())), Duration.Inf)
      finally pool.shutdown()
    }

    private def micros(t: java.sql.Timestamp): Long = micros(t.toInstant)
    private def micros(t: java.time.Instant): Long = t.getEpochSecond * 1000000L + t.getNano / 1000

    /** `<prefix>_p50_s`, and `_p90_s` when at least 100 samples hold it. */
    private def latencyMetrics(kind: String, prefix: String): Unit = {
      val done = ops.filter(o => o.kind == kind && o.error.isEmpty)
      e2e(s"${prefix}_cpu_s") = done.map(_.cpuS).sum / math.max(done.size, 1)
      val xs = ops.filter(_.kind == kind).map(o => if (o.error.isEmpty) o.seconds else Double.PositiveInfinity)
      detail(s"${prefix}_samples") = xs.size
      if (xs.nonEmpty) e2e(s"${prefix}_p50_s") = median(xs.toSeq)
      if (xs.size >= 100) e2e(s"${prefix}_p90_s") = quantile(xs.toSeq, 0.9)
    }

    // ---- analytics / curation -------------------------------------------

    private type Registry = Map[String, (String, (SparkSession, String) => DataFrame)]

    private def registryOf(mods: Seq[(String, Map[String, (SparkSession, String) => DataFrame])]): Registry =
      mods.flatMap { case (m, qs) => qs.toSeq.map { case (n, f) => n -> (m, f) } }.toMap

    private def queries(tSetup: Long, rounds: Int,
                        mods: Seq[(String, Map[String, (SparkSession, String) => DataFrame])],
                        curation: Boolean): Unit = {
      val storeRoot = work.resolve("stores").toString
      val tReg = System.nanoTime()
      Catalog.registerViews(spark, data)
      layer("catalog.register_s") = (System.nanoTime() - tReg) / 1e9
      if (curation) storeBuilt(StoreBuild.buildAll(spark, data, storeRoot))
      val registry = registryOf(mods)
      val names = registry.keys.toSeq
      // warm-up, part of set-up: one untimed execution of each module's
      // first query by name, the same for every seed, so the JIT cost of
      // the engine's shared paths is not charged to whichever queries the
      // seeded order puts first
      mods.foreach { case (_, qs) =>
        qs(qs.keys.min)(spark, data).write.format("noop").mode("overwrite").save()
      }
      Tracer.settle(spark)
      e2e("setup_s") = (System.nanoTime() - tSetup) / 1e9
      // a traced run alternates traced and untraced executions of each
      // query over two rounds: by name, so each query is traced in
      // exactly one of them
      val nRounds = if (trace) math.max(2, rounds) else rounds
      val parity = names.sorted.zipWithIndex.toMap
      queryRounds("query", registry, nRounds, Golden.load(golden.resolve(s"$workload.json")),
        storeRounds = curation, (n, r) => (parity(n) + r) % 2 == 0)
      // golden regeneration only: untimed dump of every result
      dump.foreach { d =>
        val fps = names.map { n =>
          val df = registry(n)._2(spark, data)
          df.write.mode("overwrite").parquet(s"$d/$n")
          n -> Fingerprint.of(df)
        }.toMap
        Golden.save(Paths.get(d, "fingerprints.json"), fps)
        Golden.save(Paths.get(d, "oracle_sql.json"),
          SparkEntry.oracleSql.filter(kv => registry.contains(kv._1)))
      }
      latencyMetrics("query", "query")
      val q = ops.filter(_.kind == "query")
      e2e("queries_per_s") = q.count(_.error.isEmpty) / q.map(_.seconds).sum
      e2e("op_p50_s") = e2e("query_p50_s")
      e2e("cpu_s_per_op") = e2e("query_cpu_s")
      e2e("ops_per_s") = e2e("queries_per_s")
      detail("rounds") = nRounds
      if (curation) e2e("stored_bytes_per_input_byte") = storeBytes(storeRoot)
    }

    /** Timed rounds over `registry`, each in its seeded order. Each query
      * is constructed and noop-materialized under the clock. After the
      * round's timed operations, an untimed pass computes every result's
      * fingerprint from the same DataFrames, `nproc` queries at a time,
      * and compares it with `goldens`; a mismatch fails the query's
      * operation. With `storeRounds`, each round begins with
      * `CacheLife.release`, so it behaves like a new consumer over a
      * built store root, and the cachelife layer is recorded.
      */
    private def queryRounds(kind: String, registry: Registry, nRounds: Int,
                            goldens: Map[String, String], storeRounds: Boolean,
                            traced: (String, Int) => Boolean): Unit = {
      val builderKeys =
        if (!storeRounds) Nil
        else (DedupQueries.indexBuilders(spark, data) ++ SubstrDedup.indexBuilders(spark, data) ++
          SimilarityQueries.indexBuilders(spark, data) ++ TextQueries.indexBuilders(spark, data))
          .map(_._1).flatMap(n => Seq(n, n.replace('_', '-')).distinct).map(n => s"$n:$data")
      val releases = mutable.ArrayBuffer.empty[Double]
      val frameBuilds = mutable.ArrayBuffer.empty[Double]
      val persisted = mutable.ArrayBuffer.empty[Double]
      for (r <- 1 to nRounds) {
        if (storeRounds) {
          val t = System.nanoTime()
          CacheLife.release(spark)
          releases += (System.nanoTime() - t) / 1e9
        }
        val results = mutable.ArrayBuffer.empty[(Long, String, DataFrame)]
        Gen.order(seed, r, registry.keys.toSeq).foreach { n =>
          val (m, f) = registry(n)
          op(kind, n, m, r, traced(n, r)) { id =>
            val t0 = System.nanoTime()
            val df = sp("operators.construct", id)(f(spark, data))
            val t1 = System.nanoTime()
            sp("operators.execute", id)(df.write.format("noop").mode("overwrite").save())
            results += ((id, n, df))
            ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
          }
        }
        checkFingerprints(results.toSeq, goldens)
        if (storeRounds) {
          frameBuilds += builderKeys.map(k => CacheLife.buildCount(spark, k)).sum.toDouble
          persisted += spark.sparkContext.getPersistentRDDs.size.toDouble
        }
      }
      if (storeRounds) {
        layer("cachelife.release_s") = median(releases.toSeq)
        layer("cachelife.frame_builds_per_round") = median(frameBuilds.toSeq)
        layer("cachelife.persisted_frames") = median(persisted.toSeq)
      }
    }

    /** The untimed correctness pass of a round: the fingerprint of each
      * (op id, query, result), compared with its golden value. It runs
      * after the round's timed operations, `nproc` jobs at a time; a
      * mismatch or an error fails the query's operation.
      */
    private def checkFingerprints(results: Seq[(Long, String, DataFrame)],
                                  goldens: Map[String, String]): Unit = {
      val t = System.nanoTime()
      val verdicts = parallel(results.map { case (id, n, df) => () =>
        val err = try { if (goldens.get(n).contains(Fingerprint.of(df))) None else Some("CorrectnessMismatch") }
          catch { case e: Exception => Some(rootCause(e)) }
        (id, n, err)
      })
      verdicts.foreach { case (id, n, err) =>
        val i = ops.indexWhere(_.id == id)
        err.filter(_ => ops(i).error.isEmpty).foreach { c =>
          ops(i) = ops(i).copy(error = Some(c))
          failures += (n -> c)
        }
      }
      Tracer.settle(spark)
      detail("check_s") = detail.getOrElse("check_s", 0.0).asInstanceOf[Double] + (System.nanoTime() - t) / 1e9
    }

    /** The storebuild layer: builder seconds, grouped. */
    private def storeBuilt(built: Seq[(String, Double)]): Unit = {
      Seq("dedup", "substr", "sim", "text", "layouts").foreach { g =>
        layer(s"storebuild.${g}_s") = built.filter { case (n, _) =>
          if (g == "layouts") n.endsWith("_layout") else n.startsWith(g + ".") && !n.endsWith("_layout")
        }.map(_._2).sum
      }
      detail("storebuild") = built.toMap
    }

    /** Store-root size as the cachelife layer; returns its bytes per
      * corpus byte.
      */
    private def storeBytes(root: String): Double = {
      val (files, bytes) = Host.du(Paths.get(root))
      layer("cachelife.store_files") = files.toDouble
      layer("cachelife.store_bytes") = bytes.toDouble
      bytes.toDouble / Host.du(Paths.get(data))._2
    }

    /** Builders and queries of the store probe: one store chain per
      * builder group, and one query per curation module that reads it.
      */
    val probeBuilders = Seq("dedup.shingles", "substr.grams", "substr.spans", "sim.ivf_cells",
      "text.docs_tok", "text.tokens", "text.vocab")
    val probeQueries = Seq("dedup_ngram_overlap", "dedup_substr_spans", "sim_ivf_cells",
      "text_token_freq", "multi_image_features")

    /** Store probe, traced analytics runs only: it measures the
      * storebuild and cachelife layers and the curation modules on a
      * listed workload, at a fraction of the `curation` run. The
      * `probeBuilders`, plus the incremental text layout, write into a
      * fresh store root. Then two rounds, each beginning with
      * `CacheLife.release`, run the `probeQueries` traced, gated by the
      * curation golden fingerprints.
      */
    private def storeProbe(): Unit = {
      val root = work.resolve("probe-stores").toString
      spark.conf.set(CacheLife.RootKey, root)
      val docs = Tables.documents(spark, data).select(col("doc_id"), col("text"))
      val builders = (DedupQueries.indexBuilders(spark, data) ++ SubstrDedup.indexBuilders(spark, data) ++
        SimilarityQueries.indexBuilders(spark, data) ++ TextQueries.indexBuilders(spark, data))
        .filter(b => probeBuilders.contains(b._1)) :+
        ("text.incr_layout" -> (() => TextLayout.materialize(spark, docs, StoreBuild.textLayoutDir(root))))
      storeBuilt(builders.map { case (n, run) =>
        val t = System.nanoTime()
        run()
        n -> (System.nanoTime() - t) / 1e9
      })
      Tracer.settle(spark)
      val registry = registryOf(curationModules).filter(kv => probeQueries.contains(kv._1))
      queryRounds("probe", registry, 2, Golden.load(golden.resolve("curation.json")),
        storeRounds = true, (_, _) => true)
      detail("probe_stored_bytes_per_input_byte") = storeBytes(root)
      CacheLife.release(spark)
      spark.conf.unset(CacheLife.RootKey)
    }

    // ---- per-layer reduction (traced runs) --------------------------------

    /** Kernel probes: the engine's native column functions (the ones its
      * queries call) over the corpus replicated 20×, checkpointed so the
      * timed part is the kernel plus a scan, written to a noop sink;
      * median of three.
      */
    private def functionProbes(): Unit = {
      def rate(input: DataFrame, kernel: Column): Double = {
        val in = input.crossJoin(spark.range(20).toDF("rep")).localCheckpoint()
        val n = in.count().toDouble
        median((1 to 3).map { _ =>
          val t = System.nanoTime()
          in.select(kernel).write.format("noop").mode("overwrite").save()
          n / ((System.nanoTime() - t) / 1e9)
        })
      }
      layer("functions.minhash_rows_per_s") = rate(Tables.documents(spark, data),
        call_function("graft_minhash",
          call_function("graft_shingles", TextFunctions.tokens(col("text")), lit(5)),
          lit(DedupQueries.K)))
      val emb = Tables.embeddings(spark, data)
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      layer("functions.cosine_rows_per_s") = rate(emb,
        call_function("graft_cosine", col("embedding"), typedLit(Array.fill(dim)(1.0f))))
    }

    private def traceLayers(): Unit = {
      val tr = tracer.get
      // the spark layer is over the workload's own operations; the store
      // probe's queries feed only the module metrics
      val traced = ops.filter(o => o.traced && o.kind != "probe")
      val n = math.max(traced.size, 1).toDouble
      val st = traced.map(o => tr.stats(o.id))
      def per(f: OpStats => Double): Double = st.map(f).sum / n
      layer("spark.jobs_per_op") = per(_.jobs.toDouble)
      layer("spark.stages_per_op") = per(_.stages.toDouble)
      layer("spark.tasks_per_op") = per(_.tasks.toDouble)
      val ids = traced.map(_.id).toSet
      val opSpans = tr.spans.filter(s => s.name == "op" && ids(s.op))
      val jobSpans = tr.spans.toSeq.filter(_.name.startsWith("job:")).groupBy(_.op)
      layer("spark.driver_gap_ms") = opSpans.map(s =>
        (s.endNs - s.startNs - Tracer.covered(s, jobSpans.getOrElse(s.op, Seq.empty[Span]))) / 1e6).sum / n
      layer("spark.catalyst_ms_per_op") = per(_.catalystMs)
      layer("spark.executor_run_ms") = per(_.runMs.toDouble)
      layer("spark.executor_cpu_ms") = per(_.cpuNs / 1e6)
      val wallMs = traced.map(_.seconds).sum * 1000.0
      layer("spark.busy_cores") = st.map(_.runMs).sum / (wallMs * spark.sparkContext.defaultParallelism)
      layer("spark.shuffle_read_bytes") = per(_.shuffleRead.toDouble)
      layer("spark.shuffle_write_bytes") = per(_.shuffleWrite.toDouble)
      layer("spark.spill_bytes") = per(_.spill.toDouble)
      layer("spark.output_bytes") = per(_.output.toDouble)
      layer("spark.task_failures") = st.map(_.taskFailures).sum.toDouble
      val pipe = traced.filter(_.module == "Pipeline")
      sourceModules.foreach { m =>
        val ps = pipe.map(o => tr.stats(o.id))
        val k = math.max(ps.size, 1).toDouble
        layer(s"sources.$m.jobs") = ps.map(_.jobsByModule(m)).sum / k
        layer(s"sources.$m.job_ms") = ps.map(_.jobMsByModule(m)).sum / k
      }
      modules.foreach { m =>
        val qs = ops.filter(o => o.traced && o.module == m)
        val k = math.max(qs.size, 1).toDouble
        layer(s"$m.construct_s") = qs.map(_.constructS).sum / k
        layer(s"$m.execute_s") = qs.map(_.executeS).sum / k
        layer(s"$m.jobs") = qs.map(o => tr.stats(o.id).jobs).sum / k
      }
      // overhead: traced against untraced executions of the primary
      // operation. Each query runs once traced and once untraced, so the
      // median over queries of the paired ratio cancels the per-query
      // cost mix; ingest ticks of one day alternate, so there it is the
      // ratio of the two medians
      val done = ops.filter(o => o.error.isEmpty && o.kind == (if (workload == "ingest") "tick" else "query"))
      layer("trace.overhead_ratio") =
        if (workload == "ingest") {
          val (t, u) = done.partition(_.traced)
          median(t.map(_.seconds).toSeq) / median(u.map(_.seconds).toSeq) - 1.0
        } else {
          val pairs = done.groupBy(_.name).values.toSeq.flatMap { xs =>
            for (t <- xs.find(_.traced); u <- xs.find(!_.traced)) yield (t.round, t.seconds / u.seconds)
          }
          // round 1 runs cold and round 2 warm: the median ratio of the
          // queries traced in round 1 is (1 + overhead)(1 + cold penalty),
          // that of the others (1 + overhead) / (1 + cold penalty), so
          // their geometric mean cancels the cold penalty
          val (first, second) = pairs.partition(_._1 == 1)
          math.sqrt(median(first.map(_._2)) * median(second.map(_._2))) - 1.0
        }
      val allTraced = math.max(ops.count(_.traced), 1).toDouble
      val self = Tracer.selfTimes(tr.spans.toSeq, name =>
        if (name.startsWith("job:")) "spark" else name.takeWhile(_ != '.'))
      detail("job_call_sites") = tr.sites.toMap
      self.foreach { case (l, ms) => detail(s"self_ms_per_op.$l") = ms / allTraced }
      // the spans file
      Files.writeString(recordDir.resolve("spans.jsonl"), tr.spans.sortBy(_.startNs).map { s =>
        compact(render(("id" -> s.id) ~ ("name" -> s.name) ~ ("start_ns" -> s.startNs) ~
          ("end_ns" -> s.endNs) ~ ("parent" -> s.parent) ~ ("op" -> s.op))) + "\n"
      }.mkString)
      // every per-layer metric is reported on every workload; a layer
      // the workload does not exercise reads 0
      (Seq("catalog.register_s") ++
        Seq("dedup", "substr", "sim", "text", "layouts").map(g => s"storebuild.${g}_s") ++
        Seq("cachelife.frame_builds_per_round", "cachelife.persisted_frames",
          "cachelife.release_s", "cachelife.store_bytes", "cachelife.store_files",
          "sources.warehouse_files", "sources.warehouse_bytes_per_row"))
        .foreach(k => if (!layer.contains(k)) layer(k) = 0.0)
    }

    // ---- record -------------------------------------------------------

    private def write(): Unit = {
      val attempted = ops.size + checks
      val failed = ops.count(_.error.nonEmpty) + checksFailed
      e2e("failed_ratio") = failed.toDouble / attempted
      detail("wall_s") = (System.nanoTime() - t00) / 1e9
      val rec = mutable.LinkedHashMap[String, Any](
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "nproc" -> spark.sparkContext.defaultParallelism,
        "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "failures" -> failures.map { case (n, c) => Map("op" -> n, "error" -> c) }.toSeq,
        "host" -> host.toMap, "end_to_end" -> e2e.toMap, "per_layer" -> layer.toMap,
        "detail" -> detail.toMap,
        "ops" -> ops.map(o => Map("kind" -> o.kind, "name" -> o.name, "module" -> o.module,
          "round" -> o.round, "traced" -> o.traced, "s" -> o.seconds, "cpu_s" -> o.cpuS,
          "construct_s" -> o.constructS, "execute_s" -> o.executeS,
          "error" -> o.error.getOrElse(""))).toSeq)
      // non-finite values (a metric over no samples) are written as null
      val json = Extraction.decompose(rec.toMap)(DefaultFormats).transform {
        case JDouble(d) if d.isNaN || d.isInfinite => JNull
      }
      Files.writeString(recordDir.resolve("record.json"), compact(render(json)) + "\n")
    }
  }
}
