package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry}
import graft.catalog.VersionedTable
import graft.model.RefAdapter
import graft.ops.{Bm25, HybridRetrieval, Ivf}
import graft.pipeline.Medallion
import graft.streaming.{LakeWriter, LiveView}

/** One benchmark run in one JVM: set-up and warm-up (untimed), then a closed
  * loop of one client calling the library until `--seconds` of operation time
  * is spent. Writes the per-operation timings, the outputs the checker compares
  * against DuckDB, and (when tracing) the per-layer metrics and the span file.
  *
  * Usage: perfbench.Main --workload W --seconds S --trace 0|1 --cores N
  *          --data DIR --work DIR --out DIR
  */
object Main {
  import Probe.median

  final case class Args(workload: String, seconds: Double, trace: Boolean,
      cores: Int, data: String, work: String, out: String)

  /** Per-run settings of each workload. */
  object Sizes {
    val medallionWarmupPasses = 3
    val streamBackfillCommits = 24 // batch appends of the first days, before the stream
    val streamWarmupCycles = 8 // commits 25..32: the timed cycles start at the 33rd
    val servingWarmupCalls = 6
    val servingQueriesPerCall = 5
    val legK = 20; val k = 10; val nprobe = 4; val nlist = 16
  }

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(m("workload"), m("seconds").toDouble, m("trace") == "1",
      m("cores").toInt, m("data"), m("work"), m("out"))
    val spark = GraftSession.builder("perfbench", s"local[${a.cores}]", Some(a.cores))
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.Registry.registerAll(spark)
    val probe = new Probe(spark, a.trace)
    try {
      val result = a.workload match {
        case "medallion_batch" => medallionBatch(spark, probe, a)
        case "stream_cycles" => streamCycles(spark, probe, a)
        case "index_serving" => indexServing(spark, probe, a)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      write(s"${a.out}/jvm_result.json", Json.render(result))
    } finally spark.stop()
  }

  /** The timed loop: runs `op(i)` until the timed operations add up to the
    * run's seconds. `op` returns its measured ms; a thrown operation counts as
    * failed and its time still counts against the budget.
    */
  final class Loop(seconds: Double) {
    val opMs = ArrayBuffer.empty[Double]
    var failed = 0
    var firstStartEpochMs = 0L
    def run(op: Int => Double): Unit = {
      var spent = 0.0
      var i = 0
      firstStartEpochMs = System.currentTimeMillis()
      while (spent < seconds * 1000) {
        val start = System.nanoTime()
        try { val ms = op(i); opMs += ms; spent += ms }
        catch {
          case NonFatal(e) =>
            failed += 1
            spent += (System.nanoTime() - start) / 1e6
            System.err.println(s"operation $i failed: $e")
        }
        i += 1
      }
    }
    def attempted: Int = opMs.size + failed
    def summary: Map[String, Any] = Map("first_op_epoch_ms" -> firstStartEpochMs,
      "op_ms" -> opMs.toSeq, "attempted" -> attempted, "failed" -> failed)
  }

  // ---- medallion_batch ------------------------------------------------------------

  /** One `Medallion.run` per operation over the staged order slice plus all
    * customers, each pass into a fresh lake root.
    */
  def medallionBatch(spark: SparkSession, probe: Probe, a: Args): Map[String, Any] = {
    val lake = s"${a.work}/lake"
    val orders = RefAdapter.orders(spark.read.parquet(s"${a.data}/orders.parquet"))
    val customers = RefAdapter.customers(spark.read.parquet(s"${a.data}/customer.parquet"))
    def tables(root: String) = {
      val p = Medallion.Paths(root)
      Seq("bronze_orders" -> p.bronze, "bronze_customers" -> p.customersBronze,
        "silver_orders" -> p.silver, "silver_customers" -> p.customersSilver,
        "gold_daily_sales" -> p.goldDailySales, "gold_clv" -> p.goldClv)
    }
    val summaries = ArrayBuffer.empty[Map[String, Any]]
    val passStats = ArrayBuffer.empty[(Int, Seq[(String, String, TableStats)])]
    val lakeBytes = ArrayBuffer.empty[Double]
    def pass(i: Int, timed: Boolean): Double = {
      val root = s"$lake/pass-$i"
      val (s, ms) = probe.op("medallion.pass", timed) {
        if (probe.tracing) tracedRun(spark, probe, orders, customers, root)
        else Medallion.run(spark, orders, customers, root)
      }
      if (timed) {
        summaries += Map("bronze_rows" -> s.bronzeRows, "silver_rows" -> s.silverRows,
          "customers_silver_rows" -> s.customersSilverRows,
          "quarantined" -> s.quarantined, "daily_sales_rows" -> s.dailySalesRows,
          "clv_rows" -> s.clvRows)
        passStats += (probe.ops.size - 1) -> tables(root).map { case (n, d) =>
          (n, d, TableStats(d)) }
        lakeBytes += TableStats(root).totalBytes.toDouble
      }
      ms
    }
    (0 until Sizes.medallionWarmupPasses).foreach(i => pass(-1 - i, timed = false))
    deleteTree(Paths.get(lake))
    var last = -1
    val loop = new Loop(a.seconds)
    loop.run { i =>
      if (last >= 0) deleteTree(Paths.get(s"$lake/pass-$last"))
      last = i
      pass(i, timed = true)
    }

    // outputs of the last pass, for the checker
    val p = Medallion.Paths(s"$lake/pass-$last")
    VersionedTable.read(spark, p.goldDailySales).write.parquet(s"${a.out}/daily_sales")
    VersionedTable.read(spark, p.goldClv).write.parquet(s"${a.out}/clv")
    val counts = Map(
      "bronze_rows" -> VersionedTable.read(spark, p.bronze).count(),
      "silver_rows" -> VersionedTable.read(spark, p.silver).count())
    write(s"${a.out}/oracle_sql.json", Json.render(Map(
      "daily_sales" -> SparkEntry.oracleSql("q_daily_sales"),
      "clv" -> SparkEntry.oracleSql("q_clv"))))

    val layers = if (!probe.tracing) Map.empty[String, Double] else {
      val timed = probe.timedOps
      def spanS(name: String) =
        median(timed.map(o => probe.spansIn(o, name).map(spanMs).sum / 1000))
      val dq = timed.map(o => probe.jobsIn(o).filter(_.callStack.contains("graft.dq.DqValidator")))
      (Seq("to_bronze_orders", "to_bronze_customers", "customers_to_silver",
          "to_silver", "to_gold").map(n => s"pipeline.${n}_s" -> spanS(s"pipeline.$n")) ++
        Seq("dq.jobs" -> median(dq.map(_.size.toDouble)),
          "dq.job_s" -> median(dq.map(_.map(j => (j.endMs - j.startMs) / 1000.0).sum))) ++
        catalogMetrics(probe, passStats.toSeq) ++
        probe.engineMetrics).toMap
    }
    loop.summary ++ Map(
      "rows_per_op" -> summaries.map(_("bronze_rows")).toSeq,
      "lake_bytes" -> median(lakeBytes.toSeq),
      "summaries" -> summaries.toSeq, "counts" -> counts, "layers" -> layers) ++
      traceFile(probe, a, Map.empty)
  }

  /** `Medallion.run`'s layer calls, in its order, each inside its own span. */
  private def tracedRun(spark: SparkSession, probe: Probe, orders: DataFrame,
      customers: DataFrame, root: String): Medallion.RunSummary = {
    val p = Medallion.Paths(root)
    val bronzeRows = probe.span("pipeline.to_bronze_orders")(Medallion.toBronze(orders,
      p.bronze, partitionDate = Some(to_date(col("order_date")))))
    probe.span("pipeline.to_bronze_customers")(Medallion.toBronze(customers,
      p.customersBronze))
    val (_, custOk, custRows) = probe.span("pipeline.customers_to_silver")(
      Medallion.customersToSilver(spark, p.customersBronze, p))
    require(custOk, "customers failed their DQ gate")
    val silverCustomers = VersionedTable.read(spark, p.customersSilver)
      .select("customer_id", "name", "email", "region", "customer_tenure_days")
    val (_, ok, silverRows) = probe.span("pipeline.to_silver")(
      Medallion.toSilver(spark, p.bronze, silverCustomers, p))
    require(ok, "orders failed their DQ gate")
    val (ds, clv) = probe.span("pipeline.to_gold")(
      Medallion.toGold(spark, p.silver, silverCustomers, p))
    Medallion.RunSummary(bronzeRows, silverRows, custRows, quarantined = false, ds, clv)
  }

  // ---- stream_cycles --------------------------------------------------------------

  val streamSchema: StructType = StructType(Seq(
    StructField("order_id", LongType), StructField("order_date", StringType),
    StructField("order_amount", DoubleType), StructField("customer_id", LongType)))

  /** Closed loop of land → bronze (AvailableNow) → gold view refresh cycles over
    * one growing bronze table. Set-up backfills the first days as batch appends
    * (one commit per day) and builds the view over them, warm-up cycles bring
    * the table to 32 commits, and every timed cycle adds the 33rd commit onwards.
    */
  def streamCycles(spark: SparkSession, probe: Probe, a: Args): Map[String, Any] = {
    val staged = Files.readAllLines(Paths.get(s"${a.data}/stream_files.txt")).asScala
      .map(_.split(" ")).map(x => (x(0), x(1).toLong)).toIndexedSeq
    val landing = s"${a.work}/landing"
    val bronze = s"${a.work}/lake/bronze/orders"
    val view = s"${a.work}/lake/gold/orders_by_date"
    val tables = Seq("stream_bronze" -> bronze, "stream_view" -> view)
    Files.createDirectories(Paths.get(landing))
    var landed = 0
    def land(): Long = {
      val (name, rows) = staged(landed)
      val tmp = Paths.get(landing, s".$name.tmp")
      Files.copy(Paths.get(s"${a.data}/stream/$name"), tmp)
      Files.move(tmp, Paths.get(landing, name), StandardCopyOption.ATOMIC_MOVE)
      landed += 1
      rows
    }
    def ingest(): StreamingQuery = {
      val q = LakeWriter.streamToVersionedTable(
        spark.readStream.schema(streamSchema).json(landing), bronze, s"${a.work}/chk/bronze")
      q.awaitTermination(); q
    }
    def refresh(): StreamingQuery = {
      val q = LiveView.maintain(spark, bronze, view, Seq("order_date"),
        Seq("order_amount"), s"${a.work}/chk/view")
      q.awaitTermination(); q
    }
    val progress = ArrayBuffer.empty[(Boolean, Map[String, Double])]
    val cycleStats = ArrayBuffer.empty[(Int, Seq[(String, String, TableStats)])]
    val listingByCommit = ArrayBuffer.empty[(Int, Int)]
    def cycle(timed: Boolean): (Long, Double) = {
      val before = tables.map { case (n, d) => n -> TableStats(d) }
      val ((rows, qi, qr), ms) = probe.op("stream.cycle", timed) {
        val rows = probe.span("streaming.land")(land())
        val qi = probe.span("streaming.ingest")(ingest())
        val qr = probe.span("streaming.refresh")(refresh())
        (rows, qi, qr)
      }
      if (probe.tracing) {
        val op = probe.ops.size - 1
        progress += (timed -> (streamTimes("ingest", qi,
          probe.spansIn(op, "streaming.ingest").map(spanMs).sum) ++
          streamTimes("refresh", qr, probe.spansIn(op, "streaming.refresh").map(spanMs).sum)))
        listingByCommit += (landed -> probe.jobsIn(op).count(isListing))
        val after = tables.map { case (n, d) => n -> TableStats(d) }
        if (timed) cycleStats += op -> tables.zip(after.zip(before)).map {
          case ((n, d), ((_, x), (_, y))) => (n, d, x.minus(y)) }
      }
      (rows, ms)
    }

    probe.span("streaming.backfill") {
      (0 until Sizes.streamBackfillCommits).foreach { _ =>
        VersionedTable.write(spark.read.schema(streamSchema)
          .json(s"${a.data}/stream/${staged(landed)._1}"), bronze, "append")
        landed += 1
      }
      refresh()
    }
    (0 until Sizes.streamWarmupCycles).foreach(_ => cycle(timed = false))
    val lakeBytes = tables.map(t => TableStats(t._2).totalBytes).sum
    val rowsPerOp = ArrayBuffer.empty[Long]
    val loop = new Loop(a.seconds)
    loop.run { _ =>
      require(landed < staged.size, "ran out of staged files")
      val (rows, ms) = cycle(timed = true)
      rowsPerOp += rows; ms
    }

    VersionedTable.read(spark, view).write.parquet(s"${a.out}/view")
    VersionedTable.read(spark, bronze).write.parquet(s"${a.out}/bronze")
    write(s"${a.out}/landed.txt", staged.take(landed).map(_._1).mkString("\n"))

    val layers = if (!probe.tracing) Map.empty[String, Double] else {
      val timed = progress.filter(_._1).map(_._2)
      val keys = timed.headOption.map(_.keys.toSeq).getOrElse(Nil)
      (keys.map(k => s"streaming.$k" -> median(timed.map(_(k)).toSeq)) ++
        Seq("streaming.listing_jobs_commits_to_32" ->
          listingByCommit.filter(_._1 <= 32).map(_._2).sum.toDouble) ++
        catalogMetrics(probe, cycleStats.toSeq) ++
        probe.engineMetrics).toMap
    }
    loop.summary ++ Map("rows_per_op" -> rowsPerOp.toSeq, "lake_bytes" -> lakeBytes,
      "landed" -> landed, "layers" -> layers) ++
      traceFile(probe, a, Map("listing_jobs_by_commit" ->
        listingByCommit.toSeq.map { case (c, n) => Map("commit" -> c, "listing_jobs" -> n) }))
  }

  /** ms per call split by the micro-batch phases `StreamingQueryProgress` reports;
    * start/stop is the call's time outside its triggers.
    */
  private def streamTimes(name: String, q: StreamingQuery, callMs: Double):
      Map[String, Double] = {
    val ps = q.recentProgress.toSeq
    def phase(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue)
      .getOrElse(0.0)).sum
    val trigger = phase("triggerExecution")
    Map(s"$name.call_ms" -> callMs, s"$name.trigger_ms" -> trigger,
      s"$name.add_batch_ms" -> phase("addBatch"),
      s"$name.query_planning_ms" -> phase("queryPlanning"),
      s"$name.wal_commit_ms" -> phase("walCommit"),
      s"$name.latest_offset_ms" -> phase("latestOffset"),
      s"$name.start_stop_ms" -> (callMs - trigger))
  }

  // ---- index_serving --------------------------------------------------------------

  /** Builds the BM25 and IVF indexes, then one closed-loop client: each call
    * reads both indexes and runs hybrid top-k for a batch of queries.
    */
  def indexServing(spark: SparkSession, probe: Probe, a: Args): Map[String, Any] = {
    val idx = s"${a.work}/index"
    val docs = spark.read.parquet(s"${a.data}/documents.parquet")
    val emb = spark.read.parquet(s"${a.data}/embeddings.parquet")
    val buildStart = System.nanoTime()
    probe.span("ops.bm25_build")(Bm25.writeIndex(docs, s"$idx/bm25"))
    val bm25BuildS = (System.nanoTime() - buildStart) / 1e9
    probe.span("ops.ivf_build")(Ivf.writeIvfIndex(emb,
      Ivf.seedCentroids(emb, nlist = Sizes.nlist), s"$idx/ivf"))
    val ivfBuildS = (System.nanoTime() - buildStart) / 1e9 - bm25BuildS
    // the client's query rows: text and embedding of corpus rows, relabeled
    // out of the corpus id space
    val queryRows = docs.join(emb, col("doc_id") === col("vec_id"))
      .select((col("doc_id") + 1000000L).as("query_id"), col("text"), col("embedding"))
    val schema = queryRows.schema
    val byId = queryRows.collect().map(r => (r.getLong(0) - 1000000L) -> r).toMap
    val sample = Files.readAllLines(Paths.get(s"${a.data}/queries.txt")).asScala
      .map(_.split(" ").map(_.toLong).toSeq).toIndexedSeq
    val results = ArrayBuffer.empty[String]
    val times = ArrayBuffer.empty[(Double, Double, Double)]
    def call(ids: Seq[Long], timed: Boolean, tag: String): (Array[Row], Double) = {
      val queries = spark.createDataFrame(ids.map(byId).asJava, schema)
      val (rows, ms) = probe.op("serving.call", timed) {
        val bm = probe.span("ops.bm25_read")(Bm25.readIndexFrom(spark, s"$idx/bm25"))
        val ivf = probe.span("ops.ivf_read")(Ivf.readIvfIndex(spark, s"$idx/ivf"))
        probe.span("ops.topk")(HybridRetrieval.bm25RrfTopKForQueries(bm, ivf, queries,
          legK = Sizes.legK, k = Sizes.k, nprobe = Sizes.nprobe)
          .select("query_id", "rank", "doc_id", "rrf").collect())
      }
      if (probe.tracing && timed) {
        val op = probe.ops.size - 1
        def t(n: String) = probe.spansIn(op, n).map(spanMs).sum
        times += ((t("ops.bm25_read"), t("ops.ivf_read"), t("ops.topk")))
      }
      rows.foreach(r => results += s"$tag,${r.getLong(0)},${r.get(1)},${r.getLong(2)},${r.getDouble(3)}")
      (rows, ms)
    }
    var next = 0
    (0 until Sizes.servingWarmupCalls).foreach { _ =>
      call(sample(next), timed = false, "warmup"); next += 1
    }
    results.clear()
    val loop = new Loop(a.seconds)
    loop.run { i =>
      require(next < sample.size, "ran out of query batches")
      val ids = sample(next); next += 1
      val (_, ms) = call(ids, timed = true, s"call$i")
      write(s"${a.out}/queries_sent.txt", ids.mkString(" ") + "\n", append = true)
      ms
    }
    // the oracle's query batch: the five lowest corpus ids
    call(0L until Sizes.servingQueriesPerCall.toLong, timed = false, "oracle")
    write(s"${a.out}/serving_results.csv", results.mkString("", "\n", "\n"))
    write(s"${a.out}/oracle_sql.json", Json.render(Map(
      "hybrid" -> SparkEntry.oracleSql("q_hybrid_external"))))

    val layers = if (!probe.tracing) Map.empty[String, Double] else (Seq(
      "ops.bm25_read_ms" -> median(times.map(_._1).toSeq),
      "ops.ivf_read_ms" -> median(times.map(_._2).toSeq),
      "ops.topk_ms" -> median(times.map(_._3).toSeq),
      "ops.bm25_build_s" -> bm25BuildS, "ops.ivf_build_s" -> ivfBuildS) ++
      probe.engineMetrics).toMap
    loop.summary ++ Map(
      "rows_per_op" -> loop.opMs.map(_ => Sizes.servingQueriesPerCall),
      "lake_bytes" -> TableStats(idx).totalBytes, "layers" -> layers) ++
      traceFile(probe, a, Map.empty)
  }

  // ---- catalog ---------------------------------------------------------------------

  /** What a table directory holds: data files, Hive partition directories and
    * their bytes, commit-log entries and their bytes, and everything else.
    */
  final case class TableStats(files: Long, dirs: Long, bytes: Long, commits: Long,
      logBytes: Long, otherBytes: Long) {
    def totalBytes: Long = bytes + logBytes + otherBytes
    def minus(o: TableStats): TableStats = TableStats(files - o.files, dirs - o.dirs,
      bytes - o.bytes, commits - o.commits, logBytes - o.logBytes,
      otherBytes - o.otherBytes)
  }

  object TableStats {
    def apply(dir: String): TableStats = {
      val root = Paths.get(dir)
      if (!Files.exists(root)) TableStats(0, 0, 0, 0, 0, 0)
      else {
        val all = Files.walk(root).iterator().asScala.filterNot(_ == root).toSeq
        val (ds, fs) = all.partition(Files.isDirectory(_))
        def inLog(p: Path) = root.relativize(p).iterator().asScala
          .exists(_.toString == "_commit_log")
        val (log, rest) = fs.partition(inLog)
        val (data, other) = rest.partition(_.getFileName.toString.endsWith(".parquet"))
        def size(xs: Seq[Path]) = xs.map(Files.size).sum
        TableStats(data.size, ds.count(_.getFileName.toString.contains("=")), size(data),
          log.count(p => !p.getFileName.toString.startsWith(".")), size(log), size(other))
      }
    }
  }

  private def isListing(j: Probe#Job): Boolean = j.description.startsWith(Probe.ListingPrefix)

  /** Per table, medians over the timed operations of what one operation added,
    * plus the listing jobs whose first listed path lies in the table. `perOp`
    * holds, per timed operation, its index and each table's name, directory and
    * growth.
    */
  private def catalogMetrics(probe: Probe,
      perOp: Seq[(Int, Seq[(String, String, TableStats)])]): Seq[(String, Double)] = {
    val rows = perOp.map { case (op, tabs) =>
      val listed = probe.jobsIn(op).filter(isListing).map(firstListedPath)
      tabs.map { case (n, dir, st) =>
        n -> (st, listed.count(p => p == dir || p.startsWith(dir + "/")))
      }.toMap
    }
    val names = perOp.headOption.map(_._2.map(_._1)).getOrElse(Nil)
    names.flatMap { n =>
      def med(f: ((TableStats, Int)) => Double) = median(rows.map(r => f(r(n))))
      Seq(s"catalog.$n.files" -> med(_._1.files.toDouble),
        s"catalog.$n.dirs" -> med(_._1.dirs.toDouble),
        s"catalog.$n.bytes" -> med(_._1.bytes.toDouble),
        s"catalog.$n.commits" -> med(_._1.commits.toDouble),
        s"catalog.$n.log_bytes" -> med(_._1.logBytes.toDouble),
        s"catalog.$n.listing_jobs" -> med(_._2.toDouble))
    }
  }

  /** The first path of a listing job's description ("...:<br/>path, ..."). */
  private def firstListedPath(j: Probe#Job): String =
    j.description.split("<br/>").lift(1).getOrElse("").split(",")(0).trim
      .replaceFirst("^file:(//)?", "")

  // ---- helpers ---------------------------------------------------------------------

  private def spanMs(s: Probe#Span): Double = (s.endNs - s.startNs) / 1e6

  private def traceFile(probe: Probe, a: Args, extra: Map[String, Any]): Map[String, Any] =
    if (!probe.tracing) Map.empty
    else {
      write(s"${a.out}/trace.json", probe.traceJson(extra))
      Map("trace_file" -> s"${a.out}/trace.json")
    }

  private def write(path: String, s: String, append: Boolean = false): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    if (append) Files.write(p, s.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    else Files.write(p, s.getBytes("UTF-8"))
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}
