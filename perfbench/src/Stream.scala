package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.operators.{Serving, SteamOps}
import graft.streaming.{ParquetUpsertSink, Pipelines, Sinks, Sources}

/** One streaming deployment under `dir`: the three topic directories, the
  * cold archive, the four hot tables and the query checkpoints, wired
  * through the program's public entry points exactly as a user would.
  */
final class Rig(val spark: SparkSession, val dir: String) {
  val topic: Map[String, Path] =
    Seq("reviews", "players", "games").map(t => t -> Files.createDirectories(Paths.get(dir, "topics", t))).toMap
  val archive = s"$dir/archive"
  val sent = new ParquetUpsertSink(s"$dir/hot/sentiment", Seq("window", "recommended"))
  val bomb = new ParquetUpsertSink(s"$dir/hot/bomb", Seq("app_id"))
  val players = new ParquetUpsertSink(s"$dir/hot/players", Seq("w_start", "appid"))
  val genre = new ParquetUpsertSink(s"$dir/hot/genre", Seq("genre"))
  /** The hot table whose commit makes a topic's events visible. */
  val commitSink: Map[String, ParquetUpsertSink] = Map("reviews" -> bomb, "players" -> players, "games" -> genre)
  def ckpt(q: String) = s"$dir/ckpt/$q"

  /** Reviews through the shared-scan multi-sink. `maxFiles` bounds each
    * trigger; `Sources.jsonLines` takes no reader options, so a bounded
    * source is the same text reader with that one option added.
    */
  def startReviews(trigger: Trigger, maxFiles: Option[Int] = None): StreamingQuery = {
    val src = maxFiles match {
      case None => Sources.jsonLines(spark, topic("reviews").toString)
      case Some(n) => spark.readStream.format("text").option("maxFilesPerTrigger", n.toLong).load(topic("reviews").toString)
    }
    Pipelines.reviewsMultiSink(src, archive, sent, bomb, ckpt("reviews"))
      .trigger(trigger).queryName("reviews").start()
  }

  def startPlayers(): StreamingQuery = {
    val (_, hot) = Pipelines.playerBranches(Sources.jsonLines(spark, topic("players").toString))
    Sinks.upsert(hot.select(col("window.start").as("w_start"), col("appid"), col("max_players"),
      col("avg_players")), players, ckpt("players")).queryName("players").start()
  }

  def startGames(): StreamingQuery = {
    val (_, hot) = Pipelines.chartBranches(Sources.jsonLines(spark, topic("games").toString))
    Sinks.upsert(hot, genre, ckpt("games")).queryName("games").start()
  }

  /** file name → batch id, from the file source's own metadata log. */
  def fileBatches(query: String): Map[String, Long] = {
    val Entry = """"path":"([^"]+)".*?"batchId":(\d+)""".r
    val logDir = new File(s"${ckpt(query)}/sources/0")
    Option(logDir.listFiles).toSeq.flatten.filterNot(_.getName.startsWith(".")).flatMap { f =>
      Entry.findAllMatchIn(new String(Files.readAllBytes(f.toPath), UTF_8))
        .map(m => m.group(1).split('/').last -> m.group(2).toLong)
    }.toMap
  }
}

/** Watches each hot table's `_CURRENT` pointer and records the first time
  * (epoch ms) each batch id became visible to readers: the commit time
  * of the snapshot that includes that batch.
  */
final class CommitWatch(sinks: Seq[ParquetUpsertSink]) extends Thread("perfbench-commit-watch") {
  setDaemon(true)
  @volatile private var stopped = false
  private val seen = sinks.map(s => s.root -> mutable.ArrayBuffer.empty[(Long, Long)]).toMap

  override def run(): Unit = while (!stopped) {
    poll()
    Thread.sleep(2)
  }

  private def poll(): Unit = sinks.foreach { s =>
    Try(new String(Files.readAllBytes(Paths.get(s.root, "_CURRENT")), UTF_8).trim.split("\\s+")).toOption
      .filter(_.length == 2).foreach { a =>
        val b = a(1).toLong
        val log = seen(s.root)
        log.synchronized { if (log.isEmpty || log.last._1 != b) log += ((b, System.currentTimeMillis())) }
      }
  }

  /** When the snapshot holding `batch` was first visible. */
  def commitMs(s: ParquetUpsertSink, batch: Long): Option[Long] = {
    val log = seen(s.root)
    log.synchronized(log.find(_._1 >= batch).map(_._2))
  }

  def committed(s: ParquetUpsertSink): Boolean = { val l = seen(s.root); l.synchronized(l.nonEmpty) }

  /** Stops watching; a last look catches a commit made since the last poll. */
  def halt(): Unit = { stopped = true; join(); poll() }
}

/** The reference's dashboard as an open-loop client: one panel due every
  * `slotMs`, round-robin over five panels; a panel's latency runs from
  * when it was due, so a stall also bills the panels queued behind it.
  */
final class Dashboard(spark: SparkSession, rig: Rig, slotMs: Int) extends Thread("perfbench-dashboard") {
  import Dashboard._
  setDaemon(true)
  val recs = mutable.ArrayBuffer.empty[Rec]
  @volatile var t0 = 0L
  @volatile private var stopped = false
  private val hot = Seq("reviews" -> rig.sent, "alerts" -> rig.bomb, "players" -> rig.players, "genres" -> rig.genre)

  private def view(name: String, df: DataFrame): DataFrame = name match {
    case "reviews" => SteamOps.sentimentFromPartials(df)
    case "alerts" => SteamOps.reviewBombFromPartials(df)
    case _ => df
  }

  /** (panel, tables it reads, query over those tables). */
  val panels: Seq[(String, Seq[String], Map[String, DataFrame] => DataFrame)] = Seq(
    ("topk", Seq("alerts"), t => Serving.topK(t("alerts"), 10, col("negative_ratio").desc, col("app_id").asc)),
    ("reagg", Seq("reviews"), t => Serving.reAggregate(t("reviews"), Seq("recommended"),
      Seq(sum(col("total_reviews")).as("reviews"), avg(col("avg_quality")).as("quality")))),
    ("filtercount", Seq("alerts"), t => Serving.filterCount(t("alerts"), col("is_review_bomb"), "alerts")),
    ("latest", Seq("reviews"), t => Serving.latest(t("reviews"), col("window.start").desc, col("recommended").asc)),
    ("union", Seq("reviews", "alerts", "players", "genres"), t => Serving.unionSummary(t.toSeq.sortBy(_._1))))

  override def run(): Unit = {
    spark.sparkContext.setLocalProperty("perfbench.trace", "serve")
    var slot = 0L
    while (!stopped) {
      val due = t0 + slot * slotMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      if (!stopped) {
        val (name, needs, q) = panels((slot % panels.size).toInt)
        val start = System.currentTimeMillis()
        var readMs = Double.NaN
        var raced = 0
        def attempt(): Try[Unit] = {
          val r0 = System.nanoTime()
          val r = Try {
            // every hot table has committed before the dashboard starts
            val tables = needs.map { n =>
              n -> view(n, hot.find(_._1 == n).get._2.read(spark).getOrElse(throw new NoPointer(n)))
            }.toMap
            readMs = (System.nanoTime() - r0) / 1e6
            q(tables).collect()
            ()
          }
          r match {
            case scala.util.Failure(e) if swapRace(e) && raced < MaxAttempts - 1 =>
              raced += 1
              Thread.sleep(RetryMs)
              attempt()
            case _ => r
          }
        }
        val error = attempt().failed.toOption.map(e => s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        recs.synchronized(recs += Rec(name, due, start, readMs, System.currentTimeMillis(), raced, error))
        slot += 1
      }
    }
  }

  def halt(): Unit = { stopped = true; join() }
  def samples: Seq[Rec] = recs.synchronized(recs.toList)

  /** The panels as spans: one trace per panel refresh, the snapshot read
    * as a child of its panel.
    */
  def spans: Seq[Span] = samples.zipWithIndex.flatMap { case (r, i) =>
    val p = Span(s"serve.${r.panel}", s"panel-$i", r.start.toDouble, r.end.toDouble, "dashboard")
    if (r.readMs.isNaN) Seq(p) else Seq(p, Span("serve.read", s"panel-$i", r.start.toDouble, r.start + r.readMs, p.name))
  }
}

object Dashboard {
  /** One panel refresh: when it was due, started and ended (epoch ms), and
    * how many of its attempts a pointer swap broke.
    */
  final case class Rec(panel: String, due: Long, start: Long, readMs: Double, end: Long, raced: Int,
      error: Option[String]) {
    def ok: Boolean = error.isEmpty
  }

  /** Attempts per panel refresh, and the pause between them. */
  val MaxAttempts = 3
  val RetryMs = 20L

  final class NoPointer(table: String) extends java.io.IOException(s"no _CURRENT pointer on hot table $table")

  /** A read that landed inside a `ParquetUpsertSink` pointer swap. On
    * Hadoop's local filesystem `FileContext.rename(OVERWRITE)` deletes
    * `_CURRENT`, renames the new pointer in, then renames its `.crc`
    * separately, so a reader can find no pointer, lose it between the
    * exists check and the open, or read the new pointer against the old
    * checksum. A panel refresh that hits this is re-run (as a dashboard
    * does on its next refresh) and counted in `serve.read_races`; any
    * other error, or a race on every attempt, fails the panel.
    */
  def swapRace(e: Throwable): Boolean = e match {
    case _: NoPointer => true
    case _: org.apache.hadoop.fs.ChecksumException | _: java.io.FileNotFoundException =>
      String.valueOf(e.getMessage).contains("_CURRENT")
    case _ => false
  }
}

/** Shared measurement and correctness code of the two stream workloads. */
object StreamCheck {
  /** Rows in one table and not the other, as multisets (the hot tables
    * are small enough to compare on the driver).
    */
  private def compare(out: Out, what: String, exp: DataFrame, got: Option[DataFrame]): Unit = {
    def bag(df: DataFrame) =
      df.select(exp.columns.toSeq.map(col): _*).collect().toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
    val (e, g) = (bag(exp), got.map(bag).getOrElse(Map.empty))
    val diff = (e.keySet ++ g.keySet).toSeq.map(k => math.abs(e.getOrElse(k, 0) - g.getOrElse(k, 0)).toLong).sum
    out.fail(diff, s"$what rows differ from the batch SteamOps aggregate")
  }

  /** The correctness gate: hot tables equal the batch aggregates over the
    * same topic files (Kappa parity), every review is archived exactly
    * once, and the parse yields no null records. Returns the null-record
    * count.
    */
  def gate(spark: SparkSession, rig: Rig, reviews: Long, otherTopics: Boolean, out: Out): Long = {
    val parsed = SteamOps.parseReviews(Sources.jsonLinesBatch(spark, rig.topic("reviews").toString)).cache()
    try {
      out.fail(math.abs(parsed.count() - reviews), "reviews offered but absent from the topic files")
      compare(out, "sentiment", SteamOps.sentimentAgg(parsed), rig.sent.read(spark).map(SteamOps.sentimentFromPartials))
      compare(out, "review-bomb", SteamOps.reviewBombAgg(parsed), rig.bomb.read(spark).map(SteamOps.reviewBombFromPartials))
      val archived = spark.read.parquet(rig.archive).select("review_id").collect().map(_.getString(0))
      val offered = parsed.select("review_id").collect().map(_.getString(0)).toSet
      val once = archived.toSet
      out.fail((offered -- once).size.toLong, "reviews missing from the archive")
      out.fail((archived.length - once.size).toLong, "reviews archived more than once")
      out.fail((once -- offered).size.toLong, "archived reviews never offered")
      var nulls = parsed.filter(col("review_id").isNull || col("app_id").isNull || col("timestamp").isNull).count()
      if (otherTopics) {
        val pl = SteamOps.parsePlayers(Sources.jsonLinesBatch(spark, rig.topic("players").toString))
        val gi = SteamOps.parseCharts(Sources.jsonLinesBatch(spark, rig.topic("games").toString))
        compare(out, "players", SteamOps.playerWindowAgg(pl).select(col("window.start").as("w_start"),
          col("appid"), col("max_players"), col("avg_players")), rig.players.read(spark))
        compare(out, "genre", SteamOps.genreCount(gi), rig.genre.read(spark))
        nulls += pl.filter(col("appid").isNull || col("timestamp").isNull).count() +
          gi.filter(col("appid").isNull || col("name").isNull).count()
      }
      out.fail(nulls, "parsed records with null fields")
      nulls
    } finally parsed.unpersist()
  }

  /** Seeded fault for the gate's own test: the archive loses one review,
    * as if the cold path had dropped an event.
    */
  def dropOneArchived(spark: SparkSession, rig: Rig): Unit = {
    val part = new File(rig.archive).listFiles.filter(_.getName.startsWith("batch=")).minBy(_.getName)
    val df = spark.read.parquet(part.getPath)
    val victim = df.select("review_id").head().getString(0)
    val moved = s"${part.getPath}.faulted"
    df.filter(col("review_id") =!= victim).write.parquet(moved)
    Fs.rm(part.getPath)
    new File(moved).renameTo(part)
  }

  /** Panel latency from due time, over every panel of the run (a traced
    * run's two windows together, so each of the five panels has samples).
    * Traced runs report it per layer; an untraced run only notes it
    * beside the result.
    */
  def serveMetrics(s: Seq[Dashboard.Rec], out: Out, traced: Boolean): Unit = {
    out.attempted += s.size
    out.fail(s.count(!_.ok), s"dashboard panels that threw (first: ${s.flatMap(_.error).headOption.getOrElse("")})")
    val lat = s.filter(_.ok).map(r => (r.end - r.due).toDouble)
    val races = s.map(_.raced).sum
    out.note("serve_ms", f"p50 ${Stats.median(lat)}%.0f, p90 ${Stats.quantile(lat, 0.9)}%.0f over ${lat.size} panels")
    out.note("serve_read_races", s"$races attempts broken by a pointer swap, in ${s.size} panels")
    if (traced) {
      out.metric("serve.p50_ms", Stats.median(lat), "ms")
      out.metric("serve.p90_ms", Stats.quantile(lat, 0.9), "ms")
      out.metric("serve.read_ms_p50", Stats.median(s.filter(_.ok).map(_.readMs)), "ms")
      Seq("topk", "reagg", "filtercount", "latest", "union").foreach { p =>
        out.metric(s"serve.${p}_ms_p50",
          Stats.median(s.filter(r => r.ok && r.panel == p).map(r => (r.end - r.start).toDouble)), "ms")
      }
      out.metric("serve.read_races", races.toDouble, "count")
      out.metric("serve.late_ms_max", s.map(r => (r.start - r.due).toDouble).foldLeft(0.0)(math.max), "ms")
      out.metric("self.serve_ms", s.map(r => (r.end - r.start).toDouble).sum, "ms")
    }
  }

  /** Bytes under the archive and hot-table roots, per event. */
  def storeMetrics(rig: Rig, events: Long, out: Out): Unit =
    out.metric("store_bytes_per_event", (Fs.bytes(rig.archive) + Fs.bytes(s"${rig.dir}/hot")).toDouble / events, "B")

  /** Per-layer numbers from the listeners, for one measured window. */
  def layers(spark: SparkSession, tr: Tracer, rig: Rig, w0: Long, w1: Long, events: Long,
      inBytes: Long, out: Out): Unit = {
    // triggers already running when the listeners were registered are left out
    val progs = tr.progresses.filter(p => java.time.Instant.parse(p.timestamp).toEpochMilli >= tr.registeredAt)
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    val rev = progs.filter(p => p.name == "reviews" && p.numInputRows > 0)
    out.metric("trig.count", progs.count(_.numInputRows > 0).toDouble, "count")
    out.metric("trig.rows_p50", Stats.median(rev.map(_.numInputRows.toDouble)), "count")
    out.metric("trig.exec_ms_p50", Stats.median(rev.map(d(_, "triggerExecution"))), "ms")
    out.metric("trig.exec_ms_p90", Stats.quantile(rev.map(d(_, "triggerExecution")), 0.9), "ms")
    out.metric("trig.plan_ms_p50", Stats.median(rev.map(d(_, "queryPlanning"))), "ms")
    out.metric("trig.commit_ms_p50", Stats.median(rev.map(p => d(p, "walCommit") + d(p, "commitOffsets"))), "ms")
    out.metric("trig.addbatch_ms_p50", Stats.median(rev.map(d(_, "addBatch"))), "ms")
    out.metric("src.offset_ms_p50", Stats.median(rev.map(p => d(p, "latestOffset") + d(p, "getBatch"))), "ms")
    val stateful = progs.filter(p => p.stateOperators.nonEmpty)
    val lastState = stateful.groupBy(_.name).values.map(_.maxBy(_.batchId))
    out.metric("state.rows", lastState.flatMap(_.stateOperators.map(_.numRowsTotal)).sum.toDouble, "count")
    out.metric("state.mem_bytes", lastState.flatMap(_.stateOperators.map(_.memoryUsedBytes)).sum.toDouble, "B")
    out.metric("state.commit_ms_p50",
      Stats.median(stateful.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)), "ms")
    val lag = stateful.flatMap { p =>
      for (mx <- Option(p.eventTime.get("max")); wm <- Option(p.eventTime.get("watermark")))
        yield (java.time.Instant.parse(mx).toEpochMilli - java.time.Instant.parse(wm).toEpochMilli) / 1000.0
    }
    out.metric("wm.lag_s", Stats.median(lag), "s")

    val spans = tr.spansAll()
    def sinkMs(n: String) = Stats.median(spans.filter(_.name == n).map(_.ms))
    out.metric("archive.write_ms_p50", sinkMs("archive"), "ms")
    Seq("sentiment", "bomb", "players", "genre").foreach(s => out.metric(s"upsert.${s}_ms_p50", sinkMs(s"upsert.$s"), "ms"))
    out.metric("archive.files", Fs.parquetFiles(rig.archive).toDouble, "count")
    out.metric("archive.bytes_per_event", Fs.bytes(rig.archive).toDouble / events, "B")
    val sinks = Seq(rig.sent, rig.bomb, rig.players, rig.genre).filter(s => new File(s.root).exists)
    out.metric("upsert.snapshot_rows_max", sinks.map(_.read(spark).map(_.count()).getOrElse(0L)).max.toDouble, "count")
    out.metric("upsert.snapshots_on_disk",
      sinks.map(s => new File(s.root).listFiles.count(f => f.isDirectory && f.getName.startsWith("v"))).sum.toDouble, "count")
    out.metric("upsert.rewrite_bytes_per_in_byte", sinks.map(s => Fs.bytes(s.root)).sum.toDouble / inBytes, "ratio")
    // snapshots no reader can reach any more: every v<n> but the one _CURRENT names
    val superseded = sinks.map { s =>
      val current = new String(Files.readAllBytes(Paths.get(s.root, "_CURRENT")), UTF_8).trim.split("\\s+").head
      new File(s.root).listFiles.filter(f => f.isDirectory && f.getName.startsWith("v") && f.getName != s"v$current")
        .map(f => Fs.bytes(f.getPath)).sum
    }.sum
    out.metric("upsert.superseded_bytes_share",
      superseded.toDouble / (Fs.bytes(rig.archive) + Fs.bytes(s"${rig.dir}/hot")), "ratio")

    // Self time per layer over the reviews query's triggers. Sources,
    // planning and commit are the trigger's own phase times; archive,
    // upsert and the rest of addBatch come from the listeners: the union
    // of the SQL executions and jobs attributed to the trigger's batch
    // (the micro-batch's own execution wraps addBatch, and the sink writes
    // nest inside it). The two clocks must add up to trig.exec within the
    // stated slack, and every trigger must show a span for each sink its
    // query writes.
    val byTrace = spans.groupBy(_.trace)
    def batchSpans(p: StreamingQueryProgress): Seq[Span] = byTrace.getOrElse(s"${p.name}#${p.batchId}", Nil)
    val revSpans = rev.flatMap(batchSpans)
    val covered = rev.map(p => Tracer.unionMs(batchSpans(p).map(s => (s.start.toLong, s.end.toLong)),
      Long.MinValue, Long.MaxValue)).sum.toDouble
    val archiveMs = revSpans.filter(_.name == "archive").map(_.ms).sum
    val upsertMs = revSpans.filter(_.name.startsWith("upsert.")).map(_.ms).sum
    val unattributed = progs.filter(_.numInputRows > 0).map { p =>
      SinkWrites.getOrElse(p.name, Nil).count(w => !batchSpans(p).exists(_.name == w))
    }.sum
    val trig = rev.map(d(_, "triggerExecution")).sum
    val sources = rev.map(p => d(p, "latestOffset") + d(p, "getBatch")).sum
    val planning = rev.map(d(_, "queryPlanning")).sum
    val commit = rev.map(p => d(p, "walCommit") + d(p, "commitOffsets")).sum
    val gap = if (trig > 0) 100.0 * (trig - sources - planning - commit - covered) / trig else Double.NaN
    out.metric("self.sources_ms", sources, "ms")
    out.metric("self.planning_ms", planning, "ms")
    out.metric("self.commit_ms", commit, "ms")
    out.metric("self.archive_ms", archiveMs, "ms")
    out.metric("self.upsert_ms", upsertMs, "ms")
    out.metric("self.pipeline_ms", covered - archiveMs - upsertMs, "ms")
    out.metric("reconcile.gap_pct", gap, "%")
    out.metric("reconcile.slack_pct", ReconcileSlackPct, "%")
    out.metric("reconcile.unattributed_writes", unattributed.toDouble, "count")
    out.metric("reconcile.ok", if (math.abs(gap) <= ReconcileSlackPct && unattributed == 0) 1 else 0, "bool")
    out.note("reconcile_samples", s"${rev.size} reviews triggers, $unattributed sink writes without a span")
    execMetrics(tr, _ => true, w0, w1, out)
  }

  val ReconcileSlackPct = 5.0
  /** The sink spans each streaming query writes in every trigger. */
  val SinkWrites: Map[String, Seq[String]] = Map("reviews" -> Seq("archive", "upsert.sentiment", "upsert.bomb"),
    "players" -> Seq("upsert.players"), "games" -> Seq("upsert.genre"))

  def execMetrics(tr: Tracer, keep: String => Boolean, w0: Long, w1: Long, out: Out): Unit = {
    val a = tr.execTotals(keep)
    out.metric("exec.jobs", a.jobs.toDouble, "count")
    out.metric("exec.stages", a.stages.toDouble, "count")
    out.metric("exec.tasks", a.tasks.toDouble, "count")
    out.metric("exec.driver_ms", (w1 - w0 - Tracer.unionMs(tr.jobIntervals(keep), w0, w1)).toDouble, "ms")
    out.metric("exec.run_ms", a.runMs.toDouble, "ms")
    out.metric("exec.cpu_ms", a.cpuNs / 1e6, "ms")
    out.metric("exec.gc_ms", a.gcMs.toDouble, "ms")
    out.metric("shuffle.read_bytes", a.shuffleRead.toDouble, "B")
    out.metric("shuffle.write_bytes", a.shuffleWrite.toDouble, "B")
    out.metric("spill.bytes", a.spill.toDouble, "B")
    out.metric("exec.peak_mem_bytes", a.peakMem.toDouble, "B")
    out.metric("task.skew", Tracer.skew(a), "ratio")
  }

  /** Backlog over time from file stamps and commit times: events written
    * by t minus events whose snapshot was visible by t, sampled every
    * 100 ms over [w0, w1]. Returns (max, least-squares slope in events/s).
    */
  def backlog(files: Seq[(Long, Long, Option[Long])], w0: Long, w1: Long): (Double, Double) = {
    val pts = (w0 to w1 by 100).map { t =>
      val written = files.filter(_._1 <= t).map(_._2).sum
      val done = files.filter(f => f._3.exists(_ <= t)).map(_._2).sum
      ((t - w0) / 1000.0, (written - done).toDouble)
    }
    (pts.map(_._2).foldLeft(0.0)(math.max), Stats.slope(pts))
  }
}
