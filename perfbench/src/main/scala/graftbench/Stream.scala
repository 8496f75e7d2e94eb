package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.model.{AttackResult, NetworkEvent}
import graft.sources.EventGen
import graft.streaming.StreamingAnomaly

/** stream-cep: the reference job — text `readStream` -> `parse` ->
  * `detectAttacks` -> `toJson` -> a sink owned by the benchmark.
  *
  * Phase 1 (drain) is closed: every input file is present, a fixed number
  * of files per trigger, `AvailableNow`. Phase 2 (open loop) is one
  * generator thread writing files on a fixed schedule at a fixed offered
  * rate; each event carries its due time as its timestamp, and a
  * detection's latency runs from its closing event's due time to the moment
  * the sink receives it.
  */
object Stream {
  final case class Gen(events: Seq[NetworkEvent], bursts: Int, reference: Seq[AttackResult])

  def jsonLine(e: NetworkEvent): String = Seq(
    s""""event_type":${Out.str(e.event_type)}""", s""""ip_src":${Out.str(e.ip_src)}""",
    s""""ip_dst":${Out.str(e.ip_dst)}""", s""""port_src":${Out.str(e.port_src)}""",
    s""""port_dst":${Out.str(e.port_dst)}""", s""""ip_proto":${Out.str(e.ip_proto)}""",
    s""""timestamp_start":${e.timestamp_start}""", s""""timestamp_end":${e.timestamp_end}""",
    s""""packets":${e.packets}""", s""""bytes":${e.bytes}""",
    s""""writer_id":${Out.str(e.writer_id)}""", s""""text":${Out.str(e.text)}"""
  ).mkString("{", ",", "}")

  /** Write a chunk of events as one JSON-lines file, atomically (the file
    * source ignores names starting with '.').
    */
  def writeFile(dir: String, name: String, events: Seq[NetworkEvent]): Unit = {
    val tmp = Paths.get(dir, "." + name + ".tmp")
    Files.write(tmp, events.map(jsonLine).mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Seeded drain input: `EventGen.stream(seed, n)` split into `files`
    * files; the reference attacks come from the local batch replay.
    */
  def generate(seed: Long, n: Int, files: Int, dir: String): Gen = {
    val events = EventGen.stream(seed, n)
    Files.createDirectories(Paths.get(dir))
    val per = math.ceil(events.size.toDouble / files).toInt
    events.grouped(per).zipWithIndex.foreach { case (chunk, i) => writeFile(dir, f"part-$i%05d.json", chunk) }
    Gen(events, n / 200, StreamingAnomaly.detectAttacksBatch(events))
  }

  def expected(rs: Seq[AttackResult], spark: SparkSession): Seq[String] = {
    import spark.implicits._
    StreamingAnomaly.toJson(rs.toDS()).collect().map(_.getString(0)).toSeq
  }

  /** Missing plus extra results, as multisets. */
  def mismatches(got: Seq[String], want: Seq[String]): Int = {
    val g = got.groupBy(identity).view.mapValues(_.size).toMap
    val w = want.groupBy(identity).view.mapValues(_.size).toMap
    (g.keySet ++ w.keySet).toSeq.map(k => math.abs(g.getOrElse(k, 0) - w.getOrElse(k, 0))).sum
  }

  final case class Drain(wall: Double, out: Seq[String], progress: Seq[StreamingQueryProgress],
      c: Counters)

  private var runs = 0

  def pipeline(spark: SparkSession, lines: DataFrame): DataFrame =
    StreamingAnomaly.toJson(StreamingAnomaly.detectAttacks(StreamingAnomaly.parse(lines)))

  def drain(spark: SparkSession, obs: Observer, in: String, work: String, perTrigger: Int): Drain = {
    runs += 1
    val buf = new ConcurrentLinkedQueue[String]()
    val sink: (DataFrame, Long) => Unit = (df, _) => df.collect().foreach(r => buf.add(r.getString(0)))
    obs.take()
    val t0 = System.nanoTime()
    val lines = spark.readStream.format("text").option("maxFilesPerTrigger", perTrigger).load(in)
    val q = pipeline(spark, lines).writeStream
      .option("checkpointLocation", s"$work/ckpt-$runs")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(sink)
      .start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    Drain(wall, buf.asScala.toSeq, q.recentProgress.toSeq, obs.take())
  }

  final case class Open(latMs: Seq[Double], failed: Int, expected: Int, genLateMs: Double,
      backlogFiles: Double, progress: Seq[StreamingQueryProgress], events: Int, heapMb: Double,
      startNs: Long, endNs: Long)

  /** The open loop: `attacks` planted bursts (one per 26 events) offered at
    * `rate` events/s (at most 1000, so every event has its own millisecond
    * and event-time order is total), `perFile` events per file.
    */
  def openLoop(spark: SparkSession, seed: Long, rate: Int, attacks: Int, perFile: Int,
      work: String): Open = {
    runs += 1
    val in = s"$work/open-$runs"
    Files.createDirectories(Paths.get(in))
    val raw = EventGen.stream(seed, attacks * 10, attackEvery = 10)
    val stepMs = 1000L / rate
    val start = System.currentTimeMillis() + 2000L
    val events = raw.zipWithIndex.map { case (e, k) =>
      val due = start + k * stepMs
      e.copy(timestamp_start = due - 10, timestamp_end = due)
    }
    val reference = StreamingAnomaly.detectAttacksBatch(events)
    // closing event of each attack: the first high-packet event to the
    // target after the run's last fragment
    val byDst = events.groupBy(_.ip_dst)
    val closeDue = reference.map { r =>
      val c = byDst(r.target_ip).filter(e => e.timestamp_end > r.attack_end_time && e.packets > 10)
        .minBy(_.timestamp_start)
      (r.target_ip, r.attack_start_time) -> c.timestamp_end
    }.toMap
    val want = expected(reference, spark)

    val got = new ConcurrentLinkedQueue[(String, Long)]()
    val sink: (DataFrame, Long) => Unit = (df, _) => {
      val rows = df.collect()
      val now = System.currentTimeMillis()
      rows.foreach(r => got.add(r.getString(0) -> now))
    }
    val t0 = System.nanoTime()
    val lines = spark.readStream.format("text").load(in)
    val q = pipeline(spark, lines).writeStream
      .option("checkpointLocation", s"$work/ckpt-$runs")
      .foreachBatch(sink)
      .start()
    val chunks = events.grouped(perFile).toSeq
    var late = 0.0
    var processedAtEnd = 0L
    val gen = new Thread(() => {
      chunks.zipWithIndex.foreach { case (chunk, i) =>
        val due = chunk.last.timestamp_end
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        writeFile(in, f"part-$i%05d.json", chunk)
        late = math.max(late, (System.currentTimeMillis() - due).toDouble)
      }
      processedAtEnd = q.recentProgress.map(_.numInputRows).sum
    })
    gen.start()
    gen.join()
    val deadline = System.currentTimeMillis() + 20000L
    while (got.size < want.size && System.currentTimeMillis() < deadline) Thread.sleep(20)
    // one more trigger's worth, so an extra result would be seen
    Thread.sleep(300)
    // the live heap with the open loop's state still loaded, read after
    // every measured drain and detection
    val heap = Out.liveHeapMb()
    q.stop()
    val t1 = System.nanoTime()
    val rec = got.asScala.toSeq
    val keyRe = """"attack_start_time":(\d+).*"target_ip":"([^"]+)"""".r.unanchored
    val lat = rec.flatMap { case (j, at) =>
      j match {
        case keyRe(st, ip) => closeDue.get(ip -> st.toLong).map(d => (at - d).toDouble)
        case _ => None
      }
    }
    Open(lat, mismatches(rec.map(_._1), want), want.size, late,
      (events.size - processedAtEnd).toDouble / perFile, q.recentProgress.toSeq, events.size, heap,
      t0, t1)
  }

  def run(spark: SparkSession, a: Args): Unit = {
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    val work = a("work")
    val seconds = a.double("seconds")
    val tracing = a.flag("trace")
    val perTrigger = a.int("per-trigger")
    val in = s"$work/drain-in"
    val g0 = System.nanoTime()
    val g = generate(a.long("seed"), a.int("events"), a.int("files"), in)
    val want = expected(g.reference, spark)
    Out.emit("event" -> "generated", "events" -> g.events.size, "bursts" -> g.bursts,
      "reference_attacks" -> want.size, "gen_s" -> (System.nanoTime() - g0) / 1e9)
    val obs = new Observer(spark)

    var failed = 0
    var attempted = 0
    def check(d: Drain): Drain = { failed += mismatches(d.out, want); attempted += want.size; d }

    // the first drain warms the JVM and is checked, not timed
    check(drain(spark, obs, in, work, perTrigger))
    // a fixed number of warm drains (see Main.passes); a traced run pairs
    // each untraced drain with a traced one
    val warm, traced = mutable.ArrayBuffer[Drain]()
    val runSpan = obs.record("run", "run", 0, System.nanoTime(), 0L)
    def tracedDrain(): Unit = {
      obs.tracing = true
      val ph = obs.newSpan(s"drain ${traced.size + 1}", "phase", runSpan.id)
      val d = check(drain(spark, obs, in, work, perTrigger))
      ph.endNs = System.nanoTime()
      batchSpans(obs, d.progress, ph.id)
      traced += d
      obs.tracing = false
    }
    while (warm.size < Main.passes(seconds)) {
      // alternate which of the pair runs first, so neither gains from JIT warm-up
      if (tracing && warm.size % 2 == 1) tracedDrain()
      warm += check(drain(spark, obs, in, work, perTrigger))
      if (tracing && warm.size % 2 == 1) tracedDrain()
    }
    val open = openLoop(spark, a.long("seed") + 1, a.int("rate"), a.int("attacks"),
      a.int("per-file"), work)
    failed += open.failed
    attempted += open.expected
    val passS = Out.median(warm.map(_.wall).toSeq)
    Out.emit("event" -> "e2e", "pass_s" -> passS,
      "cpu_s" -> Out.median(warm.map(_.c.cpuNs / 1e9).toSeq),
      "peak_heap_mb" -> open.heapMb,
      "latency_ms_p50" -> Out.median(open.latMs), "latency_ms_p95" -> Out.pct(open.latMs, 0.95),
      "events" -> g.events.size, "warm_passes" -> warm.size, "passes" -> warm.map(_.wall),
      "latency_samples" -> open.latMs.size, "open_events" -> open.events,
      "attempted" -> attempted, "failed" -> failed)

    if (tracing) {
      val ops = obs.record("open loop", "phase", runSpan.id, open.startNs, open.endNs)
      batchSpans(obs, open.progress, ops.id)
      runSpan.endNs = System.nanoTime()

      val tPass = Out.median(traced.map(_.wall).toSeq)
      def avg(f: Drain => Double): Double = traced.map(f).sum / traced.size
      def c(f: Counters => Double): Double = avg(d => f(d.c))
      val progress = traced.flatMap(_.progress).toSeq
      def dur(p: StreamingQueryProgress, ks: String*): Double =
        ks.map(k => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
      def med(f: StreamingQueryProgress => Double): Double = Out.median(progress.map(f))
      val state = (progress ++ open.progress).flatMap(_.stateOperators.headOption)
      val batchMs = progress.map(dur(_, "triggerExecution"))
      val cores = spark.sparkContext.defaultParallelism
      val parsed = StreamingAnomaly.parse(spark.read.text(in)).cache()
      parsed.count()
      val parseS = Out.median((1 to 3).map(_ => Main.secs(Main.noop(StreamingAnomaly.parse(spark.read.text(in)).toDF()))))
      val foldS = Out.median((1 to 3).map(_ => Main.secs(Main.noop(StreamingAnomaly.detectAttacksBatchDs(parsed).toDF()))))
      // graft_cep_fold on the drain's own events: one row is one target's
      // sorted (time, id, closing?) array of fragments and closing events
      val cep = Probes.perRow(spark, parsed.filter(col("packets") =!= 10)
        .selectExpr("ip_dst",
          "struct(timestamp_start * 1000 AS t, timestamp_end AS id, packets > 10 AS isn) AS e")
        .groupBy("ip_dst").agg(expr("array_sort(collect_list(e))").as("evs")), 100000,
        Seq(("graft_cep_fold", "xxhash64(graft_cep_fold(evs, 10, 60000000L, false, false))",
          "size(evs)")))
      parsed.unpersist()
      val layers = mutable.LinkedHashMap[String, Double](
        "sources.bytes_read" -> c(_.bytesRead.toDouble),
        "sources.rows_read" -> c(_.recordsRead.toDouble),
        "operators.jobs" -> c(_.jobs.toDouble),
        "spark.core_util" -> avg(d => d.c.runMs / 1e3 / (cores * d.wall)),
        "spark.sched_delay_s" -> c(_.schedDelayMs / 1e3),
        "spark.tasks" -> c(_.tasks.toDouble),
        "spark.task_run_s" -> c(_.runMs / 1e3),
        "spark.task_cpu_s" -> c(_.cpuNs / 1e9),
        "spark.skew" -> c(_.skew),
        "spark.shuffle_write_mb" -> c(_.shuffleWrite / 1048576.0),
        "spark.shuffle_read_mb" -> c(_.shuffleRead / 1048576.0),
        "spark.shuffle_fetch_wait_s" -> c(_.fetchWaitMs / 1e3),
        "spark.spill_mb" -> c(_.spillBytes / 1048576.0),
        "spark.peak_exec_mem_mb" -> traced.map(_.c.peakExecMem / 1048576.0).max,
        "spark.gc_s" -> c(_.gcMs / 1e3),
        "streaming.batches" -> avg(_.progress.size.toDouble),
        "streaming.batch_ms_p50" -> Out.median(batchMs),
        "streaming.batch_ms_p95" -> Out.pct(batchMs, 0.95),
        "streaming.add_batch_ms" -> med(dur(_, "addBatch")),
        "streaming.plan_ms" -> med(dur(_, "queryPlanning")),
        "streaming.offsets_ms" -> med(dur(_, "latestOffset", "getBatch", "walCommit")),
        "streaming.commit_ms" -> med(dur(_, "commitOffsets")),
        "streaming.state_rows" -> (0L +: state.map(_.numRowsTotal)).max.toDouble,
        "streaming.state_mb" -> (0L +: state.map(_.memoryUsedBytes)).max / 1048576.0,
        "streaming.state_commit_ms" -> Out.median(state.map(_.commitTimeMs.toDouble)),
        "streaming.state_update_ms" -> Out.median(state.map(_.allUpdatesTimeMs.toDouble)),
        "streaming.late_drops" -> state.map(_.numRowsDroppedByWatermark).sum.toDouble,
        "functions.graft_cep_fold_ns_row" -> cep.head._2,
        "streaming.parse_s" -> parseS,
        "streaming.fold_s" -> foldS,
        "streaming.gen_late_ms" -> open.genLateMs,
        "streaming.backlog_end_files" -> open.backlogFiles,
        "trace.pass_s" -> tPass,
        "trace.overhead_s" -> (tPass - passS),
        "trace.spans" -> obs.spans.size.toDouble)
      obs.close()
      val calib = Main.calib(spark)
      // single-thread baseline: a fresh local[1] context, one drain
      spark.stop()
      val (one, _) = Main.session(a, Some("local[1]"))
      try {
        val d = check(drain(one, new Observer(one), in, work, perTrigger))
        layers("streaming.events_per_s_1core") = g.events.size / d.wall
      } finally one.stop()
      Out.emit("event" -> "layers", "layers" -> layers, "calib_s" -> calib)
      Main.writeSpans(a("spans"), obs, layers.toMap)
    } else obs.close()
    Out.emit("event" -> "check", "attempted" -> attempted, "failed" -> failed)
  }

  /** One span per micro-batch, from its progress report. */
  private def batchSpans(obs: Observer, ps: Seq[StreamingQueryProgress], parent: Int): Unit = {
    val fmt = java.time.Instant.parse(_: String)
    val anchorNs = System.nanoTime()
    val anchorMs = System.currentTimeMillis()
    ps.foreach { p =>
      val st = anchorNs + (fmt(p.timestamp).toEpochMilli - anchorMs) * 1000000L
      val d = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      obs.record(s"batch ${p.batchId} (${p.numInputRows} rows)", "batch", parent, st,
        st + d * 1000000L)
    }
  }
}
