package perfbench

import java.nio.file.Paths

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{Queries, Tables}

/** Options every workload receives from `run.py`. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String,
    fault: String)

object Cpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of this process (all threads), in seconds. */
  def processS: Double = os.getProcessCpuTime / 1e9
}

/** `stream_live`: the three topics at fixed offered rates (open loop), the
  * three streaming queries in one session, and a dashboard client reading
  * the hot tables while they are written.
  */
object Live {
  /** Offered rates in events/s, frozen from the parent tree (see NOTES.md). */
  val ReviewsPerS = 1500
  val PlayersPerS = 300
  val GamesPerS = 100
  val TickMs = 200
  /** One dashboard panel every 2 s: the five panels refresh every 10 s. */
  val PanelSlotMs = 2000

  final case class FileRec(topic: String, name: String, stampMs: Long, n: Long)

  /** The generator: one file per topic per tick, record indices continuing
    * across ticks, each file stamped with its creation time.
    */
  final class Producer(b: Gen.Base, rig: Rig) {
    val files = mutable.ArrayBuffer.empty[FileRec]
    val lateMs = mutable.ArrayBuffer.empty[Double]
    private val next = mutable.Map("reviews" -> 0L, "players" -> 0L, "games" -> 0L)
    private var tick = 0

    def emit(): Unit = {
      val now = System.currentTimeMillis()
      val stamp = Gen.stamp(now)
      Seq(("reviews", ReviewsPerS), ("players", PlayersPerS), ("games", GamesPerS)).foreach { case (t, rate) =>
        val n = rate.toLong * TickMs / 1000
        val from = next(t)
        val name = f"$t-$tick%06d.json"
        Gen.writeFile(rig.topic(t), name, from, from + n) { k =>
          t match {
            case "reviews" => Gen.review(b, k, stamp)
            case "players" => Gen.players(b, k)
            case _ => Gen.game(b, k, stamp)
          }
        }
        next(t) = from + n
        files += FileRec(t, name, now, n)
      }
      tick += 1
    }

    /** Open loop: tick i is due at t0 + i·TickMs whatever the system does. */
    def runWindow(t0: Long, t1: Long): Unit = {
      var i = 1L
      while (t0 + i * TickMs < t1) {
        val due = t0 + i * TickMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        lateMs += (System.currentTimeMillis() - due).toDouble
        emit()
        i += 1
      }
    }

    def offered(t: String): Long = next(t)
    def total: Long = next.values.sum
  }

  final class Deployment(val rig: Rig, val queries: Seq[StreamingQuery], val watch: CommitWatch,
      val producer: Producer)

  /** Input generation, query start and the first committed trigger on
    * every hot table.
    */
  def deploy(spark: SparkSession, o: Opts, dir: String): Deployment = {
    val b = Gen.base(o.seed, 1.0)
    val rig = new Rig(spark, dir)
    val watch = new CommitWatch(Seq(rig.sent, rig.bomb, rig.players, rig.genre))
    watch.start()
    val qs = Seq(rig.startReviews(Trigger.ProcessingTime(0)), rig.startPlayers(), rig.startGames())
    val p = new Producer(b, rig)
    p.emit()
    Main.await(60000, "first commit on every hot table", qs)(
      Seq(rig.bomb, rig.players, rig.genre).forall(watch.committed))
    new Deployment(rig, qs, watch, p)
  }

  /** One measured window: [t0, t1), the producer's files in it, process CPU. */
  final case class Window(t0: Long, t1: Long, files: Seq[FileRec], cpuS: Double)

  def window(d: Deployment, seconds: Int): Window = {
    val t0 = System.currentTimeMillis()
    val t1 = t0 + seconds * 1000L
    val first = d.producer.files.size
    val cpu0 = Cpu.processS
    d.producer.runWindow(t0, t1)
    Window(t0, t1, d.producer.files.drop(first).toList, Cpu.processS - cpu0)
  }

  /** End-to-end metrics of one window, once every file has been committed.
    * Returns CPU seconds per 1000 events offered.
    */
  def report(d: Deployment, w: Window, out: Out): Double = {
    val batches = Seq("reviews", "players", "games").map(q => q -> d.rig.fileBatches(q)).toMap
    val timed = w.files.map(f => f -> batches(f.topic).get(f.name).flatMap(b =>
      d.watch.commitMs(d.rig.commitSink(f.topic), b)))
    out.fail(timed.filter(_._2.isEmpty).map(_._1.n).sum, "events whose hot-table commit was never seen")
    val lat = timed.collect { case (f, Some(c)) => ((c - f.stampMs) / 1000.0, f.n) }
    out.metric("latency_p50_s", Stats.weightedQuantile(lat, 0.5), "s")
    out.metric("latency_p90_s", Stats.weightedQuantile(lat, 0.9), "s")
    val triggers = timed.map { case (f, _) => (f.topic, batches(f.topic).get(f.name)) }.distinct.size
    out.note("latency_samples", s"${lat.map(_._2).sum} events, ${w.files.size} files, $triggers triggers")
    val offered = w.files.map(_.n).sum
    val cpuPerKev = w.cpuS / (offered / 1000.0)
    out.metric("cpu_s_per_kev", cpuPerKev, "s")
    // events the three pipelines take in per second of trigger time
    val trig = d.queries.flatMap(_.recentProgress).filter { p =>
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      t >= w.t0 && t < w.t1 && p.numInputRows > 0
    }
    out.metric("rate_eps", trig.map(_.numInputRows).sum * 1000.0 /
      trig.map(_.durationMs.get("triggerExecution").longValue).sum, "1/s")
    out.note("offered_eps", f"${offered * 1000.0 / (w.t1 - w.t0)}%.1f")
    val (bmax, bslope) = StreamCheck.backlog(timed.map { case (f, c) => (f.stampMs, f.n, c) }, w.t0, w.t1)
    out.metric("src.backlog_events_max", bmax, "count")
    out.metric("src.backlog_slope_eps", bslope, "1/s")
    out.metric("gen.late_ms_max", d.producer.lateMs.foldLeft(0.0)(math.max), "ms")
    cpuPerKev
  }

  def drain(d: Deployment): Unit = {
    d.queries.foreach(_.processAllAvailable())
    d.queries.foreach(_.stop())
    d.watch.halt()
    Main.progress("drained")
  }

  def gate(spark: SparkSession, o: Opts, d: Deployment, out: Out): Unit = {
    if (o.fault == "drop_event") StreamCheck.dropOneArchived(spark, d.rig)
    out.attempted += d.producer.total
    val nulls = StreamCheck.gate(spark, d.rig, d.producer.offered("reviews"), otherTopics = true, out)
    out.metric("parse.null_records", nulls.toDouble, "count")
    StreamCheck.storeMetrics(d.rig, d.producer.total, out)
    Main.progress("gate")
  }

  /** An untraced window; a traced run follows it with a traced window on
    * the same deployment, and the CPU difference is the tracing overhead.
    */
  def run(spark: SparkSession, o: Opts, out: Out): Unit = {
    val d = Main.setups(out)(i => deploy(spark, o, s"${o.work}/live$i"))(d => {
      d.queries.foreach(_.stop()); d.watch.halt(); Fs.rm(d.rig.dir)
    })
    val dash = new Dashboard(spark, d.rig, PanelSlotMs)
    dash.t0 = System.currentTimeMillis()
    dash.start()
    val plain = window(d, o.seconds)
    val tr = if (o.trace) Some(new Tracer(spark, Main.sinkOf)) else None
    val traced = tr.map { t =>
      d.queries.foreach(q => t.nameQuery(q.id, q.name))
      t.register()
      window(d, o.seconds)
    }
    dash.halt()
    drain(d)
    tr.foreach(_.unregister())
    val plainOut = if (o.trace) new Out else out
    val base = report(d, plain, plainOut)
    if (o.trace) out.failuresOf(plainOut)
    StreamCheck.serveMetrics(dash.samples, out, traced = o.trace)
    for (t <- tr; w <- traced) {
      val cpu = report(d, w, out)
      out.metric("trace.overhead_pct", 100.0 * (cpu / base - 1), "%")
      dash.spans.foreach(t.own.add)
      val inBytes = Seq("reviews", "players", "games").map(x => Fs.bytes(d.rig.topic(x).toString)).sum
      StreamCheck.layers(spark, t, d.rig, w.t0, w.t1, d.producer.total, inBytes, out)
      Main.writeSpans(o, t)
    }
    gate(spark, o, d, out)
  }
}

/** `stream_backlog`: the reviews stream drains a pre-written backlog in
  * bounded triggers of [[FileRows]] events (closed loop).
  */
object Backlog {
  val FileRows = 20000
  /** Drain rate (events/s) the backlog is sized for: a run drains about
    * `--seconds` worth of it on the parent tree at `local[4]`.
    */
  val SizedEps = 12000

  final class Deployment(val rig: Rig, b: Gen.Base, stamp: String) {
    val files = mutable.ArrayBuffer.empty[String]
    def events: Long = files.size.toLong * FileRows

    /** Appends `n` backlog files, record indices continuing. */
    def write(n: Int): Seq[String] = (0 until n).map { _ =>
      val f = files.size.toLong
      val name = f"reviews-$f%06d.json"
      Gen.writeFile(rig.topic("reviews"), name, f * FileRows, (f + 1) * FileRows)(k => Gen.review(b, k, stamp))
      files += name
      name
    }
  }

  def files(seconds: Int, eps: Int): Int = math.max(2, seconds * eps / FileRows)

  /** Writes the backlog, then warms the pipeline on a throwaway deployment
    * so the measured drain starts hot.
    */
  def deploy(spark: SparkSession, o: Opts, dir: String, nFiles: Int): Deployment = {
    val b = Gen.base(o.seed, 1.0)
    val stamp = Gen.stamp(System.currentTimeMillis())
    val d = new Deployment(new Rig(spark, dir), b, stamp)
    d.write(nFiles)
    val warm = new Rig(spark, s"$dir-warm")
    (0 until 2).foreach(f => Gen.writeFile(warm.topic("reviews"), s"w$f.json", f * 2000L, (f + 1) * 2000L)(
      k => Gen.review(b, k, stamp)))
    warm.startReviews(Trigger.AvailableNow(), Some(1)).awaitTermination()
    Fs.rm(warm.dir)
    d
  }

  /** Drains `files` (already written) with one AvailableNow run of the
    * reviews query; returns the drain rate in events/s.
    */
  def drain(d: Deployment, files: Seq[String], tracer: Option[Tracer], out: Out): Double = {
    val watch = new CommitWatch(Seq(d.rig.sent, d.rig.bomb))
    watch.start()
    val cpu0 = Cpu.processS
    val t0 = System.currentTimeMillis()
    d.rig.startReviews(Trigger.AvailableNow(), Some(1)).awaitTermination()
    val cpu1 = Cpu.processS
    watch.halt()
    Main.progress("drained")
    val batches = d.rig.fileBatches("reviews")
    val commits = files.map(f => batches.get(f).flatMap(b => watch.commitMs(d.rig.bomb, b)))
    out.fail(commits.count(_.isEmpty) * FileRows.toLong, "events whose hot-table commit was never seen")
    val t1 = commits.flatten.foldLeft(t0)(math.max)
    val events = files.size.toLong * FileRows
    val rate = events / ((t1 - t0) / 1000.0)
    out.metric("rate_eps", rate, "1/s")
    val lat = commits.flatten.map(c => ((c - t0) / 1000.0, FileRows.toLong))
    out.metric("latency_p50_s", Stats.weightedQuantile(lat, 0.5), "s")
    out.metric("latency_p90_s", Stats.weightedQuantile(lat, 0.9), "s")
    out.note("latency_samples", s"$events events in ${files.flatMap(batches.get).distinct.size} triggers")
    out.metric("cpu_s_per_kev", (cpu1 - cpu0) / (events / 1000.0), "s")
    out.metric("src.backlog_events_max", events.toDouble, "count")
    out.metric("src.backlog_slope_eps", -rate, "1/s")
    tracer.foreach(t => StreamCheck.layers(d.rig.spark, t, d.rig, t0, t1, events,
      files.map(f => d.rig.topic("reviews").resolve(f).toFile.length).sum, out))
    rate
  }

  def gate(spark: SparkSession, o: Opts, d: Deployment, out: Out): Unit = {
    if (o.fault == "drop_event") StreamCheck.dropOneArchived(spark, d.rig)
    out.attempted += d.events
    val nulls = StreamCheck.gate(spark, d.rig, d.events, otherTopics = false, out)
    out.metric("parse.null_records", nulls.toDouble, "count")
    StreamCheck.storeMetrics(d.rig, d.events, out)
    Main.progress("gate")
  }

  /** A traced run drains a second backlog of the same size, traced, on the
    * same deployment (the rate difference is the tracing overhead), then
    * the single-threaded baseline in a `local[1]` session.
    */
  def run(spark: SparkSession, o: Opts, out: Out): Unit = {
    val n = files(o.seconds, SizedEps)
    val d = Main.setups(out)(i => deploy(spark, o, s"${o.work}/backlog$i", n))(d => Fs.rm(d.rig.dir))
    val plainOut = if (o.trace) new Out else out
    val base = drain(d, d.files.toList, None, plainOut)
    if (o.trace) out.failuresOf(plainOut)
    if (o.trace) {
      val more = d.write(n)
      val tr = new Tracer(spark, Main.sinkOf)
      tr.register()
      val rate = drain(d, more, Some(tr), out)
      tr.unregister()
      out.metric("trace.overhead_pct", 100.0 * (base / rate - 1), "%")
      Main.writeSpans(o, tr)
    }
    gate(spark, o, d, out)
    if (o.trace) {
      spark.stop()
      val one = Main.session(1, o.work)
      val d1 = deploy(one, o, s"${o.work}/backlog-1core", 2)
      out.metric("ingest_eps_1core", drain(d1, d1.files.toList, None, new Out), "1/s")
      one.stop()
    }
  }
}

/** `catalog_core`: ten catalog queries over seeded tables, each timed
  * through the noop sink, as Bench drives them, so a query's time is its
  * plan's and not the parquet writer's. The result the gate hashes is
  * written to parquet after the timed run, outside it.
  */
object Catalog {
  /** The five Steam-parity queries, then one query per mechanism of the
    * catalog's iterative operators: MinHash banding, prefix-filter set
    * similarity (`Spread` pins), connected-component rounds, the
    * suffix-array doubling ladder, and a lazy-result operator whose
    * checkpoints outlive its write.
    */
  val Names: Seq[String] = Seq(
    "q_sentiment_window", "q_review_bomb", "q_genre_count", "q_player_window", "q_reagg_topk",
    "q_dedup_minhash", "q_setsim_prefix", "q_minhash_cluster", "q_suffix_array", "q_unigram_refit")
  /** Table size relative to sf0.1 (this is sf0.01-sized). */
  val Scale = 0.1
  /** Distinct input sets: the seed picks one, and each has frozen result hashes. */
  val Variants = 4

  def variant(seed: Long): Long = Math.floorMod(seed, Variants.toLong)

  def tables(spark: SparkSession, seed: Long, dir: String): Long = {
    val b = Gen.base(1000 + variant(seed), Scale)
    Gen.writeTables(spark, b, dir)
    val t = Tables(spark, dir)
    Seq(t.events, t.documents, t.embeddings).map(_.count()).sum
  }

  def run(spark: SparkSession, o: Opts, out: Out): Unit = {
    val qs = Names.map(n => Queries.all.find(_.name == n).getOrElse(sys.error(s"unknown catalog query $n")))
    var rows = 0L
    val dir = Main.setups(out) { i =>
      val d = s"${o.work}/tables$i"
      rows = tables(spark, o.seed, d)
      Queries.all.find(_.name == "q_genre_count").get.spark(spark, d).write.format("noop").mode("overwrite").save()
      d
    }(Fs.rm)
    out.note("input_rows", rows)
    out.note("variant", variant(o.seed))
    val oracle = qs.map(q => s"${Json.str(q.name)}:${q.oracle.map(Json.str).getOrElse("null")}")
    java.nio.file.Files.writeString(Paths.get(o.work, "oracle_sql.json"), oracle.mkString("{", ",", "}"))
    java.nio.file.Files.writeString(Paths.get(o.work, "tables_dir"), dir)

    // a traced run brackets its traced pass with untraced ones: the first
    // warms every query's code and writes the results, the last is the
    // overhead baseline
    val tr = if (o.trace) Some(new Tracer(spark, Main.sinkOf)) else None
    val bracket = new Out
    if (o.trace) pass(spark, qs, dir, o, None, bracket, results = true)
    tr.foreach(_.register())
    val Pass(total, cpuS, times) = pass(spark, qs, dir, o, tr, out, results = !o.trace)
    tr.foreach(_.unregister())
    val plainPass = if (o.trace) Some(pass(spark, qs, dir, o, None, bracket, results = false).timedS) else None
    out.failuresOf(bracket)
    val med = times.map { case (q, ts) => q -> Stats.median(ts) }
    val ok = med.values.filterNot(_.isNaN).toSeq
    out.metric("latency_p50_s", Stats.median(ok), "s")
    out.metric("latency_p90_s", Stats.quantile(ok, 0.9), "s")
    val passes = times.values.map(_.size).max
    out.metric("rate_eps", rows * passes / total, "1/s")
    out.metric("cpu_s_per_kev", cpuS / (rows * passes / 1000.0), "s")
    out.metric("store_bytes_per_event", Fs.bytes(s"${o.work}/results").toDouble / rows, "B")
    out.note("passes", passes)
    out.note("latency_samples", s"${ok.size} queries × $passes passes")
    tr.foreach { t =>
      med.foreach { case (q, s) => out.metric(s"cat.${q}_s", s, "s") }
      out.metric("cat.total_s", ok.sum, "s")
      out.metric("trace.overhead_pct", 100.0 * (total / plainPass.get - 1), "%")
      val spans = t.spansAll()
      val cat = spans.filter(_.name.startsWith("cat.q_"))
      StreamCheck.execMetrics(t, k => med.contains(k), cat.map(_.start.toLong).min, cat.map(_.end.toLong).max, out)
      Main.writeSpans(o, t)
      // per-query execution split, beside the trace
      val perQuery = med.keys.toSeq.map { q =>
        val a = t.execTotals(_ == q)
        val qs = cat.filter(_.name == s"cat.$q")
        val wall = qs.map(_.ms).sum
        val driver = wall - qs.map(s => Tracer.unionMs(t.jobIntervals(_ == q), s.start.toLong, s.end.toLong)).sum
        s"""{"query":${Json.str(q)},"wall_ms":${Json.num(wall)},"driver_ms":${Json.num(driver)},"jobs":${a.jobs},""" +
          s""""stages":${a.stages},"tasks":${a.tasks},"run_ms":${a.runMs},"cpu_ms":${a.cpuNs / 1000000},""" +
          s""""gc_ms":${a.gcMs},"shuffle_read":${a.shuffleRead},"shuffle_write":${a.shuffleWrite},""" +
          s""""spill":${a.spill},"peak_mem":${a.peakMem},"skew":${Json.num(Tracer.skew(a))}}"""
      }
      java.nio.file.Files.writeString(Main.traceFile(o, "queries.jsonl"), perQuery.mkString("", "\n", "\n"))
    }
  }

  private def threw(q: Queries.Q, e: Throwable): String =
    s"${q.name} threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"

  /** Timed seconds and process CPU seconds of a pass's query runs, and
    * each query's seconds per pass.
    */
  final case class Pass(timedS: Double, cpuS: Double, times: Map[String, Seq[Double]])

  /** Passes over the queries until `--seconds` is used (at least one).
    * Each run is timed through the noop sink; with `results`, the first
    * pass then writes each query's result to `results/<query>` from the
    * same DataFrame, untimed, for the hash gate (what its construction
    * checkpointed is reused, not recomputed).
    */
  def pass(spark: SparkSession, qs: Seq[Queries.Q], dir: String, o: Opts, tr: Option[Tracer],
      out: Out, results: Boolean): Pass = {
    val times = mutable.LinkedHashMap(qs.map(_.name -> mutable.ArrayBuffer.empty[Double]): _*)
    var peak, leaked = 0
    var timedS, cpuS = 0.0
    var first = true
    val t0 = System.nanoTime()
    do {
      qs.foreach { q =>
        spark.sparkContext.setLocalProperty("perfbench.trace", q.name)
        val s0 = System.currentTimeMillis()
        val c0 = Cpu.processS
        val n0 = System.nanoTime()
        val df = Try(q.spark(spark, dir))
        val ok = df.map(_.write.format("noop").mode("overwrite").save())
        val dt = (System.nanoTime() - n0) / 1e9
        cpuS += Cpu.processS - c0
        spark.sparkContext.setLocalProperty("perfbench.trace", null)
        tr.foreach(_.own.add(Span(s"cat.${q.name}", q.name, s0.toDouble, s0 + dt * 1000, "catalog")))
        out.attempted += 1
        ok.failed.foreach(e => out.fail(1, threw(q, e)))
        if (ok.isSuccess) { times(q.name) += dt; timedS += dt }
        // RDDs the query left pinned after its run; the Bench rule frees
        // them before the next query
        val pinned = spark.sparkContext.getPersistentRDDs
        peak = math.max(peak, pinned.size)
        leaked += pinned.size
        if (results && first && ok.isSuccess) df.foreach { d =>
          out.attempted += 1
          Try(d.write.mode("overwrite").parquet(s"${o.work}/results/${q.name}")).failed.foreach(e => out.fail(1, threw(q, e)))
        }
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
      first = false
    } while ((System.nanoTime() - t0) / 1e9 < o.seconds)
    if (tr.isDefined) {
      out.metric("cp.persisted_rdds_peak", peak.toDouble, "count")
      out.metric("cp.leaked_rdds", leaked.toDouble, "count")
    }
    Pass(timedS, cpuS, times.map { case (k, v) => k -> v.toSeq }.toMap)
  }
}
