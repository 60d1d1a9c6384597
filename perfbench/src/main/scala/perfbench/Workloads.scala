package perfbench

import scala.jdk.CollectionConverters._

import graft.bitemporal.{TxOp, XtDb}
import graft.pgwire.PgServer
import graft.sql.{XtSqlEngine, XtSqlParser}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What one workload run measured.
  *  - `e2e`: the gated end-to-end metrics, measured with tracing off;
  *  - `extra`: further end-to-end figures (tails, visibility, disk), also
  *    untraced, printed in the env line and with the traced split;
  *  - `layers`: the traced per-layer split (empty unless tracing). */
final case class Outcome(e2e: Map[String, Double], extra: Map[String, Double],
    layers: Map[String, Double], env: Map[String, Any])

/** Sizes of one run. `smoke` shrinks everything for the self-test. */
final case class Sizes(pointDocs: Long, writeDocs: Long, sf: Double,
    setupRepeats: Int, minOps: Int)

object Sizes {
  val full = Sizes(pointDocs = 100000, writeDocs = 2000, sf = 0.01,
    setupRepeats = 3, minOps = 20)
  val smoke = Sizes(pointDocs = 300, writeDocs = 200, sf = 0.001,
    setupRepeats = 2, minOps = 4)
}

final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val seconds: Double, val trace: Boolean, val sizes: Sizes,
    val clients: Int, val signatures: java.io.File, val data: String) {
  val sc = spark.sparkContext

  /** Every checked output of the run, traced phases included. */
  val attempted, failed = new java.util.concurrent.atomic.AtomicLong
  def record(ok: Boolean): Boolean = {
    attempted.incrementAndGet()
    if (!ok) failed.incrementAndGet()
    ok
  }
  lazy val listener: Trace.Listener = {
    val l = new Trace.Listener
    sc.addSparkListener(l)
    l
  }
  lazy val queries: QueryStats = {
    val q = new QueryStats
    spark.listenerManager.register(q)
    q
  }

  /** Wall seconds of each named phase of the run, in order. */
  val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** Register the listeners and turn span recording on. */
  def startTracing(): Unit = { listener; queries; drain(); Trace.enabled = true }

  /** Wait until every listener event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(sc)
}

object Workloads {
  /** `pg_point_read` is not in BENCHMARK.json (see README.md); it stays
    * runnable by name for local measurement of the pure read path. */
  val names = Seq("pg_write_visible", "df_analytics", "pg_point_read")

  def run(name: String, c: Ctx): Outcome = name match {
    case "pg_point_read" => PointRead.run(c)
    case "pg_write_visible" => WriteVisible.run(c)
    case "df_analytics" => Analytics.run(c)
  }

  def timed[T](f: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = f
    (r, System.nanoTime() - t0)
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  def files(f: java.io.File): Seq[String] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files)
    else Seq(f.getPath)

  def rm(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(); ()
  }

  /** Build a docs store `setupRepeats` times, each in a fresh directory,
    * and keep the last: (store, median seconds, every build's seconds). */
  def buildStores(c: Ctx, tag: String, docs: Long): (XtDb, Double, Seq[Double]) = {
    val builds = (1 to c.sizes.setupRepeats).map { i =>
      val dir = new java.io.File(s"${c.work}/$tag-store-$i")
      rm(dir)
      val (db, ns) = timed(buildDocs(c, dir.getPath, docs))
      (db, ns / 1e9)
    }
    (builds.last._1, Stats.median(builds.map(_._2)), builds.map(_._2))
  }

  /** `docs` documents with three valid-time versions each, one
    * transaction per version, then a full compaction. */
  def buildDocs(c: Ctx, root: String, docs: Long): XtDb = {
    val db = new XtDb(c.spark, root)
    Data.VersionStartsUs.zipWithIndex.foreach { case (us, j) =>
      db.submitTx(Seq(TxOp.Put("docs", Data.docsVersion(c.spark, c.seed, docs, j),
        validFrom = Some(timestamp_micros(lit(us))))))
    }
    db.compact("docs")
    db
  }

  def tsLiteral(us: Long): String =
    java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L)
      .toString.replace("T", " ").stripSuffix("Z")

  /** Median and tail (highest percentile ≤ 90 with 10 samples beyond) of
    * `xs`, under `name`, plus the tail's percentile and the sample count. */
  def latency(name: String, xs: Seq[Double]): Map[String, Double] = {
    val (p, v) = Stats.tailPct(xs, 90)
    Map(s"${name}_p50_ms" -> Stats.median(xs), s"${name}_p90_ms" -> v,
      s"${name}_p90_is_percentile" -> p.toDouble, s"${name}_samples" -> xs.length.toDouble)
  }

  /** Per-op Spark counters of `ops`, averaged, as `spark.*` layer metrics. */
  def sparkPerOp(c: Ctx, ops: Seq[Long]): Map[String, Double] = {
    c.drain()
    val n = math.max(1, ops.length).toDouble
    val cs = ops.map(o => c.listener.of(o).toMap)
    def per(k: String) = cs.map(_(k)).sum.toDouble / n
    Seq("jobs" -> "jobs_per_op", "stages" -> "stages_per_op", "tasks" -> "tasks_per_op",
      "sched_delay_ms" -> "sched_delay_ms", "executor_run_ms" -> "executor_run_ms",
      "shuffle_read_bytes" -> "shuffle_read_bytes",
      "shuffle_write_bytes" -> "shuffle_write_bytes", "spill_bytes" -> "spill_bytes")
      .map { case (k, m) => s"spark.$m" -> per(k) }.toMap
  }

  /** Storage metrics per op from process-wide counter deltas over a phase
    * of `ops` operations (`files`: scan files the phase's plans read). */
  def storagePerOp(d: Map[String, Long], files: Long, ops: Int): Map[String, Double] = {
    val n = math.max(1, ops).toDouble
    Map(
      "storage.files_read_per_op" -> files / n,
      "storage.bytes_read_per_op" -> d("fs_bytes_read") / n,
      "storage.fs_ops_per_op" -> (d("fs_read_ops") + d("fs_write_ops")) / n)
  }

  def codegen(d: Map[String, Long]): Map[String, Double] = Map(
    "codegen.compile_ms" -> d("codegen_compile_ms").toDouble,
    "codegen.classes" -> d("codegen_classes").toDouble)

  def planCache(d: Map[String, Long]): Map[String, Double] = {
    val all = d("plancache_hits") + d("plancache_misses")
    Map("plancache.misses" -> d("plancache_misses").toDouble,
      "plancache.hit_ratio" -> (if (all == 0) 0.0 else d("plancache_hits").toDouble / all))
  }

  /** Every per-layer metric name; a layer a workload does not exercise
    * reports 0. */
  val layerNames: Seq[String] = Seq("pgwire.overhead_ms", "pgwire.jobs_per_stmt",
    "sql.parse_ms", "sql.engine_ms", "plancache.hit_ratio", "plancache.misses",
    "catalyst.analyze_ms", "catalyst.optimize_ms", "catalyst.physical_ms",
    "codegen.compile_ms", "codegen.classes", "spark.execute_ms",
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.sched_delay_ms", "spark.executor_run_ms", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "storage.files_read_per_op",
    "storage.bytes_read_per_op", "storage.fs_ops_per_op", "tx.append_ms",
    "tx.compacting_ms", "tx.compactions", "tx.block_lag_max",
    "tx.bytes_written_per_tx", "tx.files_written_per_tx", "tx.write_amp",
    "read.lag0_ms", "read.lagmax_ms", "tracing.overhead_frac",
    "tracing.accounted_frac", "op_p90_ms", "visible_p50_ms", "visible_p90_ms",
    "disk_bytes_per_tx", "pass_p50_s", "cold_pass_s", "failed_frac") ++
    Analytics.queryNames.flatMap(q => Seq(s"q.$q.hot_ms", s"q.$q.cold_ms", s"q.$q.jobs"))

  /** The per-layer result: every name, measured or 0, and nothing else. */
  def layerResult(measured: Map[String, Double]): Map[String, Double] =
    layerNames.map(n => n -> measured.getOrElse(n, 0.0)).toMap
}

/** Physical-planning time and scan file count of every executed query,
  * from Spark's public QueryExecutionListener. */
final class QueryStats extends org.apache.spark.sql.util.QueryExecutionListener {
  private val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryStats.Q]

  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
    val planMs = qe.tracker.phases.get("planning").map(_.durationMs.toDouble).getOrElse(0.0)
    val files = qe.executedPlan.collectWithSubqueries { case p => p }
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum
    seen.add(QueryStats.Q(planMs, files))
  }

  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()

  def snapshot: Seq[QueryStats.Q] = seen.asScala.toSeq
}

object QueryStats {
  final case class Q(planMs: Double, files: Long)
}

// ---------------------------------------------------------------------------

/** A statement run in-process the way PgServer runs it — `XtSqlEngine.sql`,
  * then a `toLocalIterator` drain — with a span around each public call. */
object InProcess {
  final case class R(op: Long, parseNs: Long, engineNs: Long, analyzeMs: Double,
      optNs: Long, physNs: Long, execNs: Long, rows: Vector[Vector[String]]) {
    def totalNs: Long = engineNs + optNs + physNs + execNs
  }

  def exec(c: Ctx, eng: XtSqlEngine, sql: String, op: Long): R =
    Trace.op(c.sc, op) {
      Trace.span("pgwire", "statement") {
        val (_, parseNs) = Workloads.timed(
          Trace.span("sql", "XtSqlParser.parse")(XtSqlParser.parse(sql)))
        val (df, engineNs) = Workloads.timed(Trace.span("sql", "XtSqlEngine.sql")(eng.sql(sql)))
        val qe = df.queryExecution
        // Spark analyzes eagerly, so analysis is part of XtSqlEngine.sql
        val analyzeMs = qe.tracker.phases.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
        val (_, optNs) = Workloads.timed(Trace.span("catalyst", "optimizedPlan")(qe.optimizedPlan))
        val (_, physNs) = Workloads.timed(Trace.span("catalyst", "executedPlan")(qe.executedPlan))
        val (rows, execNs) = Workloads.timed(Trace.span("spark", "toLocalIterator") {
          df.toLocalIterator().asScala
            .map(_.toSeq.map(v => if (v == null) null else v.toString).toVector).toVector
        })
        R(op, parseNs, engineNs, analyzeMs, optNs, physNs, execNs, rows)
      }
    }

  /** The read-path split of `rs` against the wire p50 of the same kind of
    * statement: `pgwire.overhead_ms` is what the wire adds on top. */
  def split(c: Ctx, rs: Seq[R], wireP50: Double): Map[String, Double] = {
    def p50(f: R => Double) = Stats.median(rs.map(f))
    val overhead = wireP50 - p50(r => Stats.ms(r.totalNs))
    val parts = Map(
      "sql.parse_ms" -> p50(r => Stats.ms(r.parseNs)),
      "sql.engine_ms" -> p50(r => Stats.ms(r.engineNs)),
      "catalyst.analyze_ms" -> p50(_.analyzeMs),
      "catalyst.optimize_ms" -> p50(r => Stats.ms(r.optNs)),
      "catalyst.physical_ms" -> p50(r => Stats.ms(r.physNs)),
      "spark.execute_ms" -> p50(r => Stats.ms(r.execNs)))
    val accounted = overhead + Seq("sql.engine_ms", "catalyst.optimize_ms",
      "catalyst.physical_ms", "spark.execute_ms").map(parts).sum
    parts ++ Workloads.sparkPerOp(c, rs.map(_.op)) ++ Map(
      "pgwire.overhead_ms" -> overhead,
      "tracing.accounted_frac" -> accounted / wireP50)
  }
}

// ---------------------------------------------------------------------------

/** pg_write_visible: one pgwire client; each transaction is an UPDATE or
  * INSERT (3:1), then a read of the same `_id` that must return the
  * written value. Runs whole auto-compaction cycles. */
object WriteVisible {
  final case class Tx(write: String, read: String, id: Long, value: Long)

  /** Three UPDATEs of random existing ids, then one INSERT of a new id, in
    * that fixed order: every run has the same statement mix, so the seed
    * moves only keys and values. */
  def stream(seed: Long, docs: Long): Iterator[Tx] = {
    val rnd = new java.util.SplittableRandom(seed * 104729L + 17)
    var nextId = docs
    Iterator.from(0).map { i =>
      val v = rnd.nextLong(1000000000L)
      val (k, write) =
        if (i % 4 != 3) {
          val k = rnd.nextLong(docs)
          (k, s"UPDATE docs SET v = $v WHERE _id = $k")
        } else {
          val k = nextId; nextId += 1
          (k, s"INSERT INTO docs RECORDS {_id: $k, v: $v, name: 'new$k'}")
        }
      Tx(write, s"SELECT v FROM docs WHERE _id = $k", k, v)
    }
  }

  /** One transaction; a traced one also carries the block lag after it
    * and the same read run in-process right after the wire read. */
  final case class Sample(tx: Tx, writeNs: Long, readNs: Long, ok: Boolean, lagAfter: Long,
      inProcess: Option[InProcess.R]) {
    def visibleNs: Long = writeNs + readNs
  }

  /** Nominal seconds of one compaction cycle on the reference host (four
    * vCPUs): `--seconds` buys `seconds / CycleSeconds` whole cycles, at
    * least one. The count depends on `--seconds` only, never on how fast
    * the engine is, so every run of a workload is the same transactions. */
  val CycleSeconds = 20.0

  def cyclesFor(seconds: Double): Int =
    math.max(1, math.round(seconds / CycleSeconds).toInt)

  /** A fresh PgServer and one client over `db`, and the store's
    * transaction stream. */
  final class Conn(c: Ctx, val db: XtDb) {
    val server = new PgServer(c.spark, db).start()
    val cl = try new PgClient(server.boundPort) catch { case e: Throwable => server.stop(); throw e }
    val txs = stream(c.seed, c.sizes.writeDocs)
    lazy val eng = new XtSqlEngine(c.spark, db)

    def one(t: Tx, traced: Boolean): Sample = {
      val want = Vector(Vector(t.value.toString))
      val (w, wNs) = Workloads.timed(Trace.span("pgwire", "write")(cl.query(t.write)))
      val (r, rNs) = Workloads.timed(Trace.span("pgwire", "read")(cl.query(t.read)))
      val ok = c.record(w.error.isEmpty && r.error.isEmpty && r.rows == want)
      if (!traced) Sample(t, wNs, rNs, ok, -1L, None)
      else {
        val lag = db.blockLag("docs")
        val ip = InProcess.exec(c, eng, t.read, 1000000L + c.attempted.get)
        c.record(ip.rows == want)
        Sample(t, wNs, rNs, ok, lag, Some(ip))
      }
    }

    /** The first UPDATE and the first INSERT on this server. */
    def cold(): Seq[Sample] = Seq(txs.find(_.write.startsWith("UPDATE")),
      txs.find(_.write.startsWith("INSERT"))).flatten.map(one(_, traced = false))

    def close(): Unit = try cl.close() finally server.stop()
  }

  def run(c: Ctx): Outcome = {
    // one compaction cycle: the backlog that makes the next write fold
    val cycle = c.spark.conf.get("spark.graft.autoCompact.maxLag", "8").toInt + 1
    var conn: Conn = null
    try {
      // `setupRepeats` times: build a store (timed as set-up), start a
      // fresh server over it and run its cold transactions. The last
      // store and server carry on into the measured cycles. The first
      // repetition also runs in a cold JVM, and the median leaves it out.
      val reps = c.phase("setup_and_cold")((1 to c.sizes.setupRepeats).map { i =>
        if (conn != null) { conn.close(); conn = null }
        val dir = new java.io.File(s"${c.work}/write-store-$i")
        Workloads.rm(dir)
        val (db, ns) = Workloads.timed(Workloads.buildDocs(c, dir.getPath, c.sizes.writeDocs))
        conn = new Conn(c, db)
        (ns / 1e9, conn.cold())
      })
      val builds = reps.map(_._1)
      val colds = reps.map(_._2.map(_.visibleNs).sum / 1e9)
      val store = new java.io.File(conn.db.root)
      // a fixed number of transactions up to the end of a compaction cycle
      // (counted from the compacted store, the last cold transactions
      // included): every run folds at the same positions, once per `cycle`
      var done = reps.last._2.length
      def loop(n: Int, traced: Boolean): Seq[Sample] = {
        val out = (1 to n).map(_ => conn.one(conn.txs.next(), traced))
        done += n
        require(done % cycle == 0, s"$done transactions is not a whole number of cycles")
        out
      }
      val cycles = cyclesFor(c.seconds)
      val b0 = Workloads.dirBytes(store)
      val samples = c.phase("measure")(loop(cycles * cycle - done, traced = false))
      val growth = Workloads.dirBytes(store) - b0
      val writes = samples.map(s => Stats.ms(s.writeNs))
      val vis = samples.map(s => Stats.ms(s.visibleNs))
      val e2e = Map(
        "setup_s" -> Stats.median(builds),
        "op_p50_ms" -> Stats.median(writes),
        "ops_per_s" -> samples.length / (samples.map(_.visibleNs).sum / 1e9),
        "cold_s" -> Stats.median(colds))
      val extra = Workloads.latency("op", writes) - "op_p50_ms" ++
        Workloads.latency("visible", vis) + ("disk_bytes_per_tx" -> growth.toDouble / samples.length)
      val layers = if (c.trace) c.phase("traced")(traced(c, store,
        () => loop(cycle, traced = true), Stats.median(vis))) else Map.empty[String, Double]
      Outcome(e2e, extra, layers,
        Map("setup_builds_s" -> builds, "cold_s_each" -> colds, "docs" -> c.sizes.writeDocs,
          "transactions" -> samples.length, "compaction_cycle" -> cycle, "cycles" -> cycles))
    } finally if (conn != null) conn.close()
  }

  /** The traced split: whole cycles again with the listeners on, the
    * block lag read after every transaction, and every read repeated
    * in-process at the same state for the read-path split. */
  def traced(c: Ctx, store: java.io.File, loop: () => Seq[Sample],
      untracedVisP50: Double): Map[String, Double] = {
    c.startTracing()
    val q0 = c.queries.snapshot.length
    val g0 = Trace.Global.snapshot
    val files0 = Workloads.files(store).toSet
    val bytes0 = Workloads.dirBytes(store)
    val jobs0 = c.listener.total.jobs.get
    val ts = loop()
    c.drain()
    val d = Trace.Global.delta(g0, Trace.Global.snapshot)
    val jobs = c.listener.total.jobs.get - jobs0
    val newFiles = (Workloads.files(store).toSet -- files0).size
    val growth = Workloads.dirBytes(store) - bytes0
    // a write folded the backlog when the lag after it is below the lag
    // after the previous write (the loop starts just after a fold: lag 0)
    val lags = ts.map(_.lagAfter)
    val folded = lags.zip(0L +: lags).map { case (a, b) => a < b }
    val maxLag = lags.max
    def ms(xs: Seq[Long]) = Stats.median(xs.map(Stats.ms))
    Trace.enabled = false
    InProcess.split(c, ts.flatMap(_.inProcess), ms(ts.map(_.readNs))) ++
      Workloads.codegen(d) ++ Workloads.planCache(d) ++
      Workloads.storagePerOp(d, c.queries.snapshot.drop(q0).map(_.files).sum, ts.length) ++ Map(
      "pgwire.jobs_per_stmt" -> (jobs - ts.flatMap(_.inProcess)
        .map(r => c.listener.of(r.op).jobs.get).sum).toDouble / (2 * ts.length),
      "tx.append_ms" -> ms(ts.zip(folded).filterNot(_._2).map(_._1.writeNs)),
      "tx.compacting_ms" -> ms(ts.zip(folded).filter(_._2).map(_._1.writeNs)),
      "tx.compactions" -> folded.count(identity).toDouble,
      "tx.block_lag_max" -> maxLag.toDouble,
      "tx.bytes_written_per_tx" -> d("fs_bytes_written").toDouble / ts.length,
      "tx.files_written_per_tx" -> newFiles.toDouble / ts.length,
      "tx.write_amp" -> d("fs_bytes_written").toDouble / math.max(1L, growth),
      "read.lag0_ms" -> ms(ts.filter(_.lagAfter == lags.min).map(_.readNs)),
      "read.lagmax_ms" -> ms(ts.filter(_.lagAfter == maxLag).map(_.readNs)),
      "tracing.overhead_frac" -> (ms(ts.map(_.visibleNs)) / untracedVisP50 - 1.0))
  }
}

// ---------------------------------------------------------------------------

/** df_analytics: the engine's headline query set over the seed-42 fixture
  * tables in `Bench.ingestLayout`, one cold pass in the fresh JVM, then
  * hot passes through `PlanCache.prepared`, on one driver thread. */
object Analytics {
  /** Nominal seconds of one hot pass on the reference host (four vCPUs):
    * `--seconds` buys `seconds / PassSeconds` hot passes, at least
    * [[MinPasses]]; like [[WriteVisible.cyclesFor]], the count does not
    * depend on the engine's speed. */
  val PassSeconds = 5.0
  val MinPasses = 3

  def passesFor(seconds: Double): Int =
    math.max(MinPasses, math.round(seconds / PassSeconds).toInt)

  def defs: Seq[graft.QueryDef] = graft.SparkEntry.all.filter(_.bench)
  def queryNames: Seq[String] = defs.map(_.name)

  /** Order-independent signature of a result: row count and the wrapping
    * sum of an xxhash64 of each row's canonical text. */
  def signature(rows: Array[Row]): (Long, Long) = {
    def canon(v: Any): String = v match {
      case null => "\u0000"
      case a: scala.collection.Seq[_] => a.map(canon).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case x => x.toString
    }
    val hashes = rows.map { r =>
      val b = r.toSeq.map(canon).mkString("\u0001").getBytes("UTF-8")
      org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(b,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    }
    (rows.length.toLong, hashes.sum)
  }

  /** Pinned signatures: lines of `<query> <rows> <hash sum>`. */
  def pinned(f: java.io.File): Map[String, (Long, Long)] =
    if (!f.exists) Map.empty
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\\s+")).collect { case Array(n, cnt, h) => n -> (cnt.toLong, h.toLong) }
        .toMap
      finally src.close()
    }

  /** Ingest the fixture tables into the engine's storage layout (laid out
    * for `Main.Cores`, whatever the host) and resolve every table,
    * `setupRepeats` times. */
  def setup(c: Ctx): (String, Double, Seq[Double]) = {
    val builds = c.phase("setup")((1 to c.sizes.setupRepeats).map { _ =>
      val (dir, ns) = Workloads.timed {
        val dir = graft.Bench.ingestLayout(c.spark, c.data, Main.Cores)
        graft.Tables.all.foreach(t => graft.Tables.load(c.spark, dir, t).limit(1).collect())
        dir
      }
      (dir, ns / 1e9)
    })
    (builds.last._1, Stats.median(builds.map(_._2)), builds.map(_._2))
  }

  def run(c: Ctx): Outcome = {
    val (dir, setupS, builds) = setup(c)
    val pins = pinned(c.signatures)
    if (pins.isEmpty)
      System.err.println(s"[perfbench] no pinned signatures at sf ${c.sizes.sf}: passes are checked against the first")
    val sigs = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
    def exec(name: String, op: Long)(df: => DataFrame): Long =
      Trace.op(c.sc, op)(Trace.span("q", name) {
        val (rows, ns) = Workloads.timed(df.collect())
        val s = signature(rows)
        val want = pins.get(name).orElse(sigs.get(name))
        if (!c.record(want.forall(_ == s)))
          System.err.println(s"[perfbench] $name: signature $s, expected ${want.get}")
        sigs.getOrElseUpdate(name, s)
        ns
      })

    // the DataFrame each query's plan was prepared from: its tracker holds
    // the analysis and optimization of the cold execution
    val built = scala.collection.mutable.Map.empty[String, DataFrame]
    def prepared(d: graft.QueryDef) =
      graft.PlanCache.prepared(c.spark, (dir, d.name)) {
        val df = d.fn(c.spark, dir)
        built(d.name) = df
        df
      }
    // cold: first execution of every query in this JVM, which also
    // prepares its plan (traced runs record catalyst phases, codegen, jobs)
    if (c.trace) c.startTracing()
    val q0 = if (c.trace) c.queries.snapshot.length else 0
    val g0 = Trace.Global.snapshot
    val cold = c.phase("cold")(defs.zipWithIndex.map { case (d, i) => exec(d.name, 1 + i)(prepared(d)) })
    if (c.trace) c.drain()
    val gCold = Trace.Global.delta(g0, Trace.Global.snapshot)
    val coldQs = if (c.trace) c.queries.snapshot.drop(q0) else Nil
    Trace.enabled = false

    // a fixed number of hot passes through the plan cache; each pass runs
    // the queries in an order drawn from the seed, and records their times
    // in canonical order
    val rnd = new scala.util.Random(c.seed)
    def hotPasses(n: Int, opBase: Long): Seq[Seq[Long]] = (0 until n).map { p =>
      rnd.shuffle(defs.indices.toList).map { i =>
        i -> exec(defs(i).name, opBase + 100L * p + i)(prepared(defs(i)))
      }.sortBy(_._1).map(_._2)
    }
    val gh0 = Trace.Global.snapshot
    val passes = c.phase("measure")(hotPasses(passesFor(c.seconds), 1000))
    val gHot = Trace.Global.delta(gh0, Trace.Global.snapshot)
    val passS = passes.map(_.sum / 1e9)
    // each query's median over the passes: one slow pass moves no figure
    val queryMs = defs.indices.map(i => Stats.median(passes.map(p => Stats.ms(p(i)))))
    val opMs = passes.flatten.map(Stats.ms)
    val e2e = Map(
      "setup_s" -> setupS,
      "op_p50_ms" -> Stats.median(queryMs),
      "ops_per_s" -> queryMs.length / (queryMs.sum / 1000.0),
      "cold_s" -> cold.sum / 1e9)
    val extra = Workloads.latency("op", opMs) - "op_p50_ms" ++
      Map("pass_p50_s" -> Stats.median(passS), "cold_pass_s" -> cold.sum / 1e9)

    val layers = if (!c.trace) Map.empty[String, Double] else {
      c.startTracing()
      val q1 = c.queries.snapshot.length
      val g1 = Trace.Global.snapshot
      val tpasses = c.phase("traced")(hotPasses(MinPasses, 100000))
      c.drain()
      val d = Trace.Global.delta(g1, Trace.Global.snapshot)
      Trace.enabled = false
      val hotOps = tpasses.indices.flatMap(p => defs.indices.map(i => 100000L + 100L * p + i))
      val perQuery = defs.zipWithIndex.flatMap { case (q, i) =>
        Seq(s"q.${q.name}.hot_ms" -> queryMs(i),
          s"q.${q.name}.cold_ms" -> Stats.ms(cold(i)),
          s"q.${q.name}.jobs" -> c.listener.of(100000L + i).jobs.get.toDouble)
      }
      def phase(p: String) = built.values.map(_.queryExecution.tracker.phases.get(p)
        .map(_.durationMs.toDouble).getOrElse(0.0)).sum / defs.length
      Workloads.sparkPerOp(c, hotOps) ++ perQuery ++ Workloads.codegen(gCold) ++
        Workloads.planCache(gHot) ++
        Workloads.storagePerOp(d, c.queries.snapshot.drop(q1).map(_.files).sum, hotOps.length) ++ Map(
        "catalyst.analyze_ms" -> phase("analysis"),
        "catalyst.optimize_ms" -> phase("optimization"),
        "catalyst.physical_ms" -> coldQs.map(_.planMs).sum / defs.length,
        "tracing.overhead_frac" ->
          (Stats.median(tpasses.map(_.sum / 1e9)) / Stats.median(passS) - 1.0))
    }
    Outcome(e2e, extra, layers,
      Map("setup_builds_s" -> builds, "sf" -> c.sizes.sf, "hot_passes" -> passes.length,
        "hot_passes_s" -> passS, "query_hot_ms" -> defs.map(_.name).zip(queryMs).toMap,
        "pinned_signatures" -> pins.size,
        "signatures" -> sigs.map { case (k, (n, h)) => k -> s"$n $h" }))
  }
}

// ---------------------------------------------------------------------------

/** pg_point_read: closed loop of point reads by `_id` over pgwire, half
  * current and half `FOR VALID_TIME AS OF`, over a compacted table. */
object PointRead {
  final case class Stmt(sql: String, id: Long, version: Int)

  /** Client `client`'s statements: uniform keys; half current reads, half
    * as of a random instant strictly inside one of the three versions. */
  def stream(seed: Long, client: Int, docs: Long): Iterator[Stmt] = {
    val rnd = new java.util.SplittableRandom(seed * 7919L + client)
    val dayUs = 86400L * 1000000L
    Iterator.continually {
      val k = rnd.nextLong(docs)
      if (rnd.nextBoolean()) Stmt(s"SELECT _id, v, name FROM docs WHERE _id = $k", k, 2)
      else {
        val j = rnd.nextInt(3)
        // ≥1 s past version j's start, before the next one (≥29 days on)
        val t = Data.VersionStartsUs(j) + 1000000L + rnd.nextLong(28 * dayUs)
        Stmt(s"SELECT _id, v, name FROM docs FOR VALID_TIME AS OF " +
          s"TIMESTAMP '${Workloads.tsLiteral(t)}' WHERE _id = $k", k, j)
      }
    }
  }

  def expected(seed: Long, s: Stmt): Vector[Vector[String]] =
    Vector(Vector(s.id.toString, Data.versionValue(seed, s.id, s.version).toString,
      s"doc${s.id}-v${s.version}"))

  final case class Sample(ns: Long, ok: Boolean)

  /** `clients` threads in a closed loop for `seconds` and until at least
    * `minOps` statements completed, each over its own connection. */
  def wireLoop(c: Ctx, port: Int, seconds: Double, minOps: Int, streamBase: Int): Seq[Sample] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Sample]
    val done = new java.util.concurrent.atomic.AtomicInteger
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val threads = (0 until c.clients).map { i =>
      new Thread(() => {
        val cl = new PgClient(port)
        try {
          val it = stream(c.seed, streamBase + i, c.sizes.pointDocs)
          while (System.nanoTime() < deadline || done.get < minOps) {
            val s = it.next()
            val (r, ns) = Workloads.timed(cl.query(s.sql))
            out.add(Sample(ns, c.record(r.error.isEmpty && r.rows == expected(c.seed, s))))
            done.incrementAndGet()
          }
        } finally cl.close()
      }, s"perfbench-client-$i")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    out.asScala.toSeq
  }

  def run(c: Ctx): Outcome = {
    val (db, setupS, builds) = c.phase("setup")(Workloads.buildStores(c, "point", c.sizes.pointDocs))
    val server = new PgServer(c.spark, db).start()
    try {
      // cold: one statement per client on the fresh server
      val cold = wireLoop(c, server.boundPort, 0, 1, 100)
      val samples = c.phase("measure")(wireLoop(c, server.boundPort, c.seconds, c.sizes.minOps, 0))
      val lat = samples.map(s => Stats.ms(s.ns))
      val e2e = Map(
        "setup_s" -> setupS,
        "op_p50_ms" -> Stats.median(lat),
        "ops_per_s" -> samples.length / (samples.map(_.ns).sum / 1e9 / c.clients),
        "cold_s" -> Stats.median(cold.map(_.ns / 1e9)))
      val extra = Workloads.latency("op", lat) - "op_p50_ms"
      val layers = if (c.trace) traced(c, db, server.boundPort, e2e("op_p50_ms")) else Map.empty[String, Double]
      Outcome(e2e, extra, layers,
        Map("setup_builds_s" -> builds, "docs" -> c.sizes.pointDocs, "statements" -> samples.length))
    } finally server.stop()
  }

  /** The wire loop again with the listeners on, then the same kind of
    * statements in-process, for the read-path split. */
  def traced(c: Ctx, db: XtDb, port: Int, untracedP50: Double): Map[String, Double] = {
    c.startTracing()
    val jobs0 = c.listener.total.jobs.get
    val wire = wireLoop(c, port, c.seconds / 2, c.sizes.minOps / 2, 200)
    c.drain()
    val wireP50 = Stats.median(wire.map(s => Stats.ms(s.ns)))
    val jobsPerStmt = (c.listener.total.jobs.get - jobs0).toDouble / wire.length
    val g0 = Trace.Global.snapshot
    val q0 = c.queries.snapshot.length
    val rs = new java.util.concurrent.ConcurrentLinkedQueue[InProcess.R]
    val deadline = System.nanoTime() + (c.seconds / 2 * 1e9).toLong
    val threads = (0 until c.clients).map { i =>
      new Thread(() => {
        val eng = new XtSqlEngine(c.spark, db)
        val it = stream(c.seed, 300 + i, c.sizes.pointDocs)
        var n = 0
        while (System.nanoTime() < deadline || n < math.max(1, c.sizes.minOps / 2 / c.clients)) {
          val s = it.next()
          val r = InProcess.exec(c, eng, s.sql, 1000000L * (i + 1) + n)
          c.record(r.rows == expected(c.seed, s))
          rs.add(r)
          n += 1
        }
      }, s"perfbench-inproc-$i")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    c.drain()
    val d = Trace.Global.delta(g0, Trace.Global.snapshot)
    Trace.enabled = false
    val r = rs.asScala.toSeq
    InProcess.split(c, r, wireP50) ++ Workloads.codegen(d) ++ Workloads.planCache(d) ++
      Workloads.storagePerOp(d, c.queries.snapshot.drop(q0).map(_.files).sum, r.length) ++ Map(
      "pgwire.jobs_per_stmt" -> jobsPerStmt,
      "tracing.overhead_frac" -> (wireP50 / untracedP50 - 1.0))
  }
}
