package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point (run through `perfbench/run.py`).
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *      --data <dir> --signatures <dir> [--smoke]
  * Main --selftest
  * }}}
  *
  * Prints an environment line, then as the last stdout line the result:
  * `{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}`
  * with the end-to-end metrics (`--trace 0`) or the per-layer split
  * (`--trace 1`). Spans of a traced run go to `<work>/trace-*.json`. */
object Main {

  /** Spark runs `local[Cores]` and the analytic tables are laid out for
    * `Cores` on every host, so scan partitions, shuffle partitions and
    * with them the summation order of aggregated doubles (and so the
    * pinned result signatures) do not depend on the host's core count. */
  val Cores = 4

  /** Units of every metric the harness emits; anything not listed is a
    * per-op count or ratio. */
  val units: Map[String, String] = Map(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "op_p90_ms" -> "ms",
    "ops_per_s" -> "1/s", "cold_s" -> "s", "pass_p50_s" -> "s", "cold_pass_s" -> "s",
    "visible_p50_ms" -> "ms", "visible_p90_ms" -> "ms",
    "disk_bytes_per_tx" -> "bytes")

  def unitOf(m: String): String = units.getOrElse(m,
    if (m.endsWith("_ms")) "ms"
    else if (m.endsWith("_bytes") || m.contains("bytes_")) "bytes"
    else if (m.endsWith("_frac") || m.endsWith("_ratio") || m == "tx.write_amp") "ratio"
    else "count")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap ++ args.filter(a => a == "--smoke" || a == "--selftest")
      .map(_.drop(2) -> "1")
    if (opts.contains("selftest")) { selfTest(); return }
    val work = new java.io.File(opts.getOrElse("work", "perfbench/work")).getAbsolutePath
    new java.io.File(work).mkdirs()
    val spark = session(work)
    System.err.println(f"[perfbench] session ready ${uptime()}%.1fs after JVM start")
    try runWorkload(spark, opts, work)
    finally {
      System.err.println(f"[perfbench] stopping at ${uptime()}%.1fs")
      spark.stop()
      System.err.println(f"[perfbench] stopped at ${uptime()}%.1fs")
    }
  }

  def uptime(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      // graft.Bench's size-derived policy on `Cores` cores (4 at any sf up
      // to 0.1)
      .config("spark.sql.shuffle.partitions",
        graft.Bench.sizeDerivedShuffle(17L, Cores).toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.locality.wait", "0")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def stealTicks(): Long =
    try {
      val cpu = scala.io.Source.fromFile("/proc/stat").getLines()
        .find(_.startsWith("cpu ")).getOrElse("")
      val f = cpu.trim.split("\\s+")
      if (f.length > 8) f(8).toLong else -1L
    } catch { case _: Exception => -1L }

  def runWorkload(spark: SparkSession, opts: Map[String, String], work: String): Unit = {
    val name = opts("workload")
    require(Workloads.names.contains(name),
      s"unknown workload $name (one of ${Workloads.names.mkString(", ")})")
    val seed = opts.getOrElse("seed", "0").toLong
    val trace = opts.getOrElse("trace", "0") == "1"
    val sizes = if (opts.contains("smoke")) Sizes.smoke else Sizes.full
    val clients = name match {
      case "pg_point_read" => 2
      case _ => 1 // df_analytics: one driver thread over local[Cores]
    }
    val c = new Ctx(spark, s"$work/$name-$seed-${if (trace) "t" else "e"}", seed,
      opts.getOrElse("seconds", "10").toDouble, trace, sizes, clients,
      new java.io.File(opts.getOrElse("signatures", "perfbench/signatures"),
        s"df_analytics_sf${sizes.sf}.txt"),
      new java.io.File(opts.getOrElse("data", "perfbench/data"), s"sf${sizes.sf}").getAbsolutePath)
    Workloads.rm(new java.io.File(c.work))
    new java.io.File(c.work).mkdirs()
    // untimed JVM warm-up, as graft.Bench does
    spark.range(1000000L).selectExpr("sum(id)").collect()
    System.err.println(f"[perfbench] workload starts at ${uptime()}%.1fs")
    val steal0 = stealTicks()
    val o = try Workloads.run(name, c) finally Workloads.rm(new java.io.File(c.work))
    val steal = stealTicks() - steal0
    val failedFrac = c.failed.get.toDouble / math.max(1L, c.attempted.get)
    val metrics =
      if (trace) Workloads.layerResult(o.layers ++ o.extra + ("failed_frac" -> failedFrac))
      else o.e2e
    val env = Map(
      "workload" -> name, "seed" -> seed, "trace" -> trace,
      "nproc" -> Runtime.getRuntime.availableProcessors, "spark_cores" -> Cores,
      "steal_ticks" -> steal,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "client" -> (name match {
        case "df_analytics" => "in-process DataFrame, 1 driver thread"
        case _ => "pgwire simple-query protocol, in-JVM socket client"
      }),
      "clients" -> clients,
      "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k.startsWith("spark.graft") ||
          k == "spark.master" || k == "spark.locality.wait"
      },
      "end_to_end" -> (o.e2e ++ o.extra + ("failed_frac" -> failedFrac)).map {
        case (k, v) => k -> Map("value" -> v, "unit" -> unitOf(k)) },
      "phase_s" -> c.phases,
      "gc_s" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum / 1000.0,
      "detail" -> o.env)
    if (trace) writeTrace(c, name, seed, env)
    println(Stats.json(Map("env" -> env)))
    val result = Map(
      "correct" -> (c.failed.get == 0),
      "attempted" -> c.attempted.get,
      "failed" -> c.failed.get,
      "metrics" -> scala.collection.immutable.TreeMap(metrics.toSeq: _*)
        .map { case (k, v) => k -> Map("value" -> v, "unit" -> unitOf(k)) })
    println(Stats.json(result))
  }

  /** Spans, per-layer self times and the env block of a traced run. */
  def writeTrace(c: Ctx, name: String, seed: Long, env: Map[String, Any]): Unit = {
    val ss = Trace.all
    val self = Trace.selfTimeByLayer(ss).map { case (l, ns) => l -> Stats.ms(ns) }
    val body = Map(
      "env" -> env,
      "self_ms_by_layer" -> self,
      "spans" -> ss.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs)))
    val f = new java.io.File(new java.io.File(c.work).getParentFile, s"trace-$name-$seed.json")
    java.nio.file.Files.writeString(f.toPath, Stats.json(body) + "\n")
    System.err.println(s"[perfbench] ${ss.length} spans -> ${f.getCanonicalPath}; " +
      s"self ms by layer: ${Stats.json(self)}")
  }

  /** Checks of the harness's own helpers; exits non-zero on failure. */
  def selfTest(): Unit = {
    def check(cond: Boolean, what: String): Unit =
      if (!cond) { System.err.println(s"selftest FAILED: $what"); sys.exit(1) }
    val xs = (1 to 100).map(_.toDouble)
    check(Stats.tailPct(xs, 90) == (90, 90.0), s"100 samples -> p90, got ${Stats.tailPct(xs, 90)}")
    check(Stats.tailPct(xs.take(50), 90) == (80, 40.0), s"50 samples -> p80, got ${Stats.tailPct(xs.take(50), 90)}")
    check(Stats.tailPct(xs.take(40), 90) == (75, 30.0), s"40 samples -> p75, got ${Stats.tailPct(xs.take(40), 90)}")
    check(Stats.tailPct(xs.take(15), 90) == (50, 8.0), s"15 samples -> median, got ${Stats.tailPct(xs.take(15), 90)}")
    (20 to 300).foreach { n =>
      val s = (1 to n).map(_.toDouble)
      val (p, v) = Stats.tailPct(s, 90)
      check(s.count(_ > v) >= 10, s"n=$n: p$p leaves fewer than 10 beyond")
      check(p == 90 || s.count(_ > Stats.pct(s, p + 1)) < 10, s"n=$n: p$p is not the highest")
    }
    check(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5,
      "median")
    println("selftest ok")
  }
}
