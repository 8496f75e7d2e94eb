package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}

import graft.{GraftSession, Registry}
import graft.functions.GraftFunctions
import graft.sources.Tables

/** The benchmark's JVM side. It calls graft only through its public entry
  * points (`GraftSession.builder`, `Registry.byName(q).build`, `Tables.t`,
  * `StreamingAnomaly`, the registered `graft_*` SQL functions) and observes
  * through listeners and final plans.
  *
  * Modes (first argument):
  *  - `batch`  — run a list of registry queries (see [[Batch]]);
  *  - `stream` — the CEP streaming workload (see [[Stream]]);
  *  - `genstream` — write the seeded stream inputs only (generator tests).
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val mode = argv.head
    val a = Args(argv.tail)
    mode match {
      case "genstream" =>
        val g = Stream.generate(a.long("seed"), a.int("events"), a.int("files"), a("dir"))
        Out.emit("event" -> "generated", "events" -> g.events.size, "bursts" -> g.bursts,
          "reference_attacks" -> g.reference.size)
      case _ =>
        val (spark, setup) = session(a, None)
        Out.emit(Seq("event" -> "ready", "java" -> System.getProperty("java.version"),
          "spark" -> spark.version) ++ setup.toSeq: _*)
        try mode match {
          case "batch" => Batch.run(spark, a)
          case "stream" => Stream.run(spark, a)
          case m => sys.error(s"unknown mode $m")
        } finally spark.stop()
    }
  }

  /** Session set-up as a graft service does it, timed by step: the builder
    * (SparkContext start), function registration, and a fixed warm-up job.
    */
  def session(a: Args, master: Option[String]): (SparkSession, Map[String, Double]) = {
    val t0 = System.nanoTime()
    var b = GraftSession.builder("graft-perfbench")
      .config("spark.local.dir", a("work") + "/spark-local")
      .config("spark.sql.warehouse.dir", a("work") + "/warehouse")
    master.foreach(m => b = b.master(m))
    val spark = b.getOrCreate()
    val t1 = System.nanoTime()
    GraftFunctions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    val t2 = System.nanoTime()
    spark.range(1000000).selectExpr("sum(id)").collect()
    val t3 = System.nanoTime()
    (spark, Map("session.start_s" -> (t1 - t0) / 1e9, "session.register_s" -> (t2 - t1) / 1e9,
      "session.warmup_s" -> (t3 - t2) / 1e9))
  }

  /** `Bench`'s frozen host-speed calibration job, copied verbatim so its
    * time is comparable with `Bench`'s `calib` figures.
    */
  def calib(spark: SparkSession): Double = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, 32)
        .selectExpr("id % 999983 AS k", "pmod(xxhash64(id), 1000000000) AS h")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("h").as("s"))
        .agg(org.apache.spark.sql.functions.sum("s"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Measured passes (drains) per run: `--seconds` at a nominal 4 s per warm
    * pass, at least three. Fixed per run rather than timed, so a faster
    * program is not also measured further into its warm-up.
    */
  def passes(seconds: Double): Int = math.max(3, math.round(seconds / 4).toInt)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def secs(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }

  def writeSpans(path: String, obs: Observer, layers: Map[String, Double]): Unit = {
    val spans = obs.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "kind" -> s.kind, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path),
      Out.json(Map("spans" -> spans, "layers" -> layers)).getBytes("UTF-8"))
  }
}

final case class Args(kv: Map[String, String]) {
  def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def double(k: String): Double = apply(k).toDouble
  def list(k: String): Seq[String] = kv.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
  def flag(k: String): Boolean = kv.get(k).contains("1")
}

object Args {
  def apply(argv: Array[String]): Args =
    Args(argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)
}

/** Batch workloads: passes over a list of registry queries, each built with
  * `Registry.byName(q).build` and materialised through the `noop` sink.
  */
object Batch {
  final case class Pass(wall: Double, perQuery: Seq[Double], build: Double, exec: Double,
      failed: Seq[String], c: Counters)

  def run(spark: SparkSession, a: Args): Unit = {
    val dir = a("dir")
    val names = a.list("queries")
    val seconds = a.double("seconds")
    val tracing = a.flag("trace")
    val obs = new Observer(spark)
    val cores = spark.sparkContext.defaultParallelism

    def pass(root: Span): Pass = {
      obs.take()
      val per = mutable.ArrayBuffer[Double]()
      val failed = mutable.ArrayBuffer[String]()
      var build, exec = 0.0
      val t0 = System.nanoTime()
      names.foreach { n =>
        val qs = obs.newSpan(n, "query", if (root == null) 0 else root.id)
        val q0 = System.nanoTime()
        def phase[T](name: String)(body: => T): (T, Double) = {
          val s = obs.newSpan(name, name, qs.id)
          obs.setPhase(name, s)
          try { val r = body; s.endNs = System.nanoTime(); (r, (s.endNs - s.startNs) / 1e9) }
          finally { if (obs.tracing) obs.settle(); obs.setPhase(null, null) }
        }
        try {
          val (df, b) = phase("build")(Registry.byName(n).build(spark, dir))
          build += b
          exec += phase("exec")(Main.noop(df))._2
        } catch {
          case e: Throwable =>
            failed += n
            System.err.println(s"[perfbench] $n failed: $e")
        }
        per += (System.nanoTime() - q0) / 1e9
        spark.catalog.clearCache()
        qs.endNs = System.nanoTime()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (root != null) root.endNs = System.nanoTime()
      Pass(wall, per.toSeq, build, exec, failed.toSeq, obs.take())
    }

    Out.emit("event" -> "oracles", "sql" -> names.flatMap(n =>
      Registry.byName(n).oracle.map(n -> _)).toMap)

    // The first pass is the check draw: every query written once to parquet
    // for the oracle comparison. It is not timed; it warms the JVM (codegen,
    // JIT) for the measured passes. The live heap is read after each query,
    // before its caches are released.
    val out = a("out")
    var heap = 0.0
    val checkFailed = names.filterNot { n =>
      try {
        Registry.byName(n).build(spark, dir).write.mode("overwrite").parquet(s"$out/$n")
        heap = math.max(heap, Out.liveHeapMb())
        true
      } catch { case e: Throwable => System.err.println(s"[perfbench] check draw $n: $e"); false }
      finally spark.catalog.clearCache()
    }
    Out.emit("event" -> "check_draw", "failed_queries" -> checkFailed, "peak_heap_mb" -> heap)

    // A fixed number of warm passes, so every run (and every commit) is
    // measured at the same point of the JIT warm-up. A traced run pairs each
    // untraced pass with a traced one.
    val warm, traced = mutable.ArrayBuffer[Pass]()
    val runSpan = obs.record("run", "run", 0, System.nanoTime(), 0L)
    def tracedPass(): Unit = {
      obs.tracing = true
      traced += pass(obs.newSpan(s"pass ${traced.size + 1}", "pass", runSpan.id))
      obs.tracing = false
    }
    while (warm.size < Main.passes(seconds)) {
      // alternate which of the pair runs first, so neither gains from JIT warm-up
      if (tracing && warm.size % 2 == 1) tracedPass()
      warm += pass(null)
      if (tracing && warm.size % 2 == 1) tracedPass()
    }
    runSpan.endNs = System.nanoTime()
    val passS = Out.median(warm.map(_.wall).toSeq)
    // per query, its median over the warm passes; the percentiles run over queries
    val lat = names.indices.map(i => Out.median(warm.map(_.perQuery(i) * 1000).toSeq))
    val failedRuns = warm.toSeq.flatMap(_.failed)
    Out.emit("event" -> "e2e", "pass_s" -> passS,
      "cpu_s" -> Out.median(warm.map(_.c.cpuNs / 1e9).toSeq),
      "latency_ms_p50" -> Out.median(lat), "latency_ms_p95" -> Out.pct(lat, 0.95),
      "warm_passes" -> warm.size, "passes" -> warm.map(_.wall),
      "latency_samples" -> warm.size * names.size,
      "attempted" -> warm.size * names.size, "failed" -> failedRuns.size,
      "failed_queries" -> failedRuns.distinct)

    if (tracing) {
      val tPass = Out.median(traced.map(_.wall).toSeq)
      def avg(f: Pass => Double): Double = traced.map(f).sum / traced.size
      def c(f: Counters => Double): Double = avg(p => f(p.c))
      val layers = mutable.LinkedHashMap[String, Double](
        "sources.load_s" -> Probes.load(spark, dir, a.list("tables")),
        "sources.files_read" -> c(_.scanFiles.toDouble),
        "sources.bytes_read" -> c(_.bytesRead.toDouble),
        "sources.rows_read" -> c(_.recordsRead.toDouble),
        "sources.scan_s" -> c(_.scanTimeMs / 1e3),
        "sources.filter_keep" -> c(x => obs.filterKeep(x)),
        "plans.analysis_s" -> c(_.analysisMs / 1e3),
        "plans.optimize_s" -> c(_.optimizeMs / 1e3),
        "plans.physical_s" -> c(_.physicalMs / 1e3),
        "plans.exchanges" -> c(_.exchanges.toDouble),
        "plans.broadcast_joins" -> c(_.broadcastJoins.toDouble),
        "plans.sort_merge_joins" -> c(_.sortMergeJoins.toDouble),
        "operators.build_s" -> avg(_.build),
        "operators.build_jobs" -> c(_.buildJobs.toDouble),
        "operators.build_cpu_s" -> c(_.buildCpuNs / 1e9),
        "operators.exec_s" -> avg(_.exec),
        "operators.jobs" -> c(_.jobs.toDouble),
        "operators.cache_blocks" -> c(_.cacheBlocks.toDouble),
        "operators.cache_mb" -> c(_.cacheBytes / 1048576.0),
        "operators.cache_reads" -> c(x =>
          if (x.cachedRelations.isEmpty) 0.0 else x.memScans.toDouble / x.cachedRelations.size),
        "spark.core_util" -> avg(p => p.c.runMs / 1e3 / (cores * p.wall)),
        "spark.sched_delay_s" -> c(_.schedDelayMs / 1e3),
        "spark.tasks" -> c(_.tasks.toDouble),
        "spark.task_run_s" -> c(_.runMs / 1e3),
        "spark.task_cpu_s" -> c(_.cpuNs / 1e9),
        "spark.skew" -> c(_.skew),
        "spark.shuffle_write_mb" -> c(_.shuffleWrite / 1048576.0),
        "spark.shuffle_read_mb" -> c(_.shuffleRead / 1048576.0),
        "spark.shuffle_fetch_wait_s" -> c(_.fetchWaitMs / 1e3),
        "spark.broadcast_mb" -> c(_.broadcastBytes / 1048576.0),
        "spark.broadcast_build_s" -> c(_.broadcastBuildMs / 1e3),
        "spark.spill_mb" -> c(_.spillBytes / 1048576.0),
        "spark.peak_exec_mem_mb" -> traced.map(_.c.peakExecMem / 1048576.0).max,
        "spark.gc_s" -> c(_.gcMs / 1e3),
        "trace.pass_s" -> tPass,
        "trace.overhead_s" -> (tPass - passS),
        "trace.spans" -> obs.spans.size.toDouble)
      Probes.textFunctions(spark, dir).foreach { case (fn, v) =>
        layers(s"functions.${fn}_ns_row") = v
      }
      Out.emit("event" -> "layers", "layers" -> layers, "calib_s" -> Main.calib(spark),
        "failed" -> traced.map(_.failed.size).sum, "attempted" -> traced.size * names.size)
      Main.writeSpans(a("spans"), obs, layers.toMap)
    }
    obs.close()
  }
}

/** Layer probes that run outside the timed passes. */
object Probes {
  /** `Tables.t` on each of the workload's tables: file listing, footer and
    * schema work, median of five rounds.
    */
  def load(spark: SparkSession, dir: String, tables: Seq[String]): Double =
    Out.median((1 to 5).map(_ => Main.secs(tables.foreach(t => Tables.t(spark, dir, t).schema))))

  /** Per-row cost of a native function: the job `max(xxhash64(f(x)))` over
    * `input` (cached, repeated to about `rows` rows), minus the job that only
    * reads `x` (`max(size(x))` / `max(length(x))`), median of three
    * alternating rounds each.
    */
  def perRow(spark: SparkSession, input: DataFrame, rows: Long,
      probes: Seq[(String, String, String)]): Seq[(String, Double)] = {
    val n = input.count()
    val df = input.crossJoin(spark.range(math.max(1L, rows / math.max(1L, n))).select(lit(0).as("__rep")))
      .drop("__rep").repartition(spark.sparkContext.defaultParallelism).cache()
    val total = df.count().toDouble
    def job(e: String) = Main.secs(df.selectExpr(s"max($e)").collect())
    val res = probes.map { case (fn, fExpr, idExpr) =>
      job(fExpr); job(idExpr)
      val ts = (1 to 3).map(_ => (job(fExpr), job(idExpr)))
      fn -> (Out.median(ts.map(_._1)) - Out.median(ts.map(_._2))) * 1e9 / total
    }
    df.unpersist()
    res
  }

  /** The text functions on the workload's own `documents.text`. */
  def textFunctions(spark: SparkSession, dir: String): Seq[(String, Double)] =
    perRow(spark, Tables.t(spark, dir, "documents").select(col("text"),
      expr("graft_word_shingles(text, 5)").as("shs"), expr("split(text, ' ')").as("toks")), 100000,
      Seq(("graft_word_shingles", "xxhash64(graft_word_shingles(text, 5))", "length(text)"),
        ("graft_rolling_hash", "xxhash64(graft_rolling_hash(text))", "length(text)"),
        ("graft_minhash_sig", "xxhash64(graft_minhash_sig(shs))", "size(shs)"),
        ("graft_simhash64", "xxhash64(graft_simhash64(toks))", "size(toks)")))
}
