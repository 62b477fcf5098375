package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GraftSession
import graft.operators.SteamOps
import graft.streaming.{ParquetUpsertSink, Sources}

/** JVM side of the benchmark: `run.py` builds the program, then runs one
  * workload here and reads back the result file.
  *
  * Args: `--workload <name> --seed <n> --seconds <n> --trace <0|1>
  * --work <dir> --result <file> [--fault drop_event]`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(a("workload"), a("seed").toLong, a("seconds").toInt, a.get("trace").contains("1"),
      a("work"), a.getOrElse("fault", "none"))
    val out = new Out
    progress(s"start ${o.workload}")
    val cores = Runtime.getRuntime.availableProcessors()
    out.note("master", s"local[$cores]")
    val b0 = System.nanoTime()
    val spark = session(cores, o.work)
    out.note("boot_s", f"${(System.nanoTime() - b0) / 1e9}%.3f")
    // a run that throws writes no result; run.py then reports the JVM log
    val ok = try {
      o.workload match {
        case "stream_live" => Live.run(spark, o, out)
        case "stream_backlog" => Backlog.run(spark, o, out)
        case "catalog_core" => Catalog.run(spark, o, out)
        case "gen_check" => genCheck(spark, o, out)
        case "race_check" => raceCheck(spark, o, out)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      out.write(a("result"))
      true
    } catch {
      case e: Throwable => e.printStackTrace(); false
    } finally {
      spark.stop()
      progress("stopped")
    }
    // exit now rather than wait for non-daemon threads a stopped session leaves behind
    sys.exit(if (ok) 0 else 1)
  }

  private val started = System.nanoTime()

  /** A timestamped line in the JVM log, to see where a run spends its time. */
  def progress(what: String): Unit = System.err.println(f"perfbench ${(System.nanoTime() - started) / 1e9}%7.2f s: $what")

  def session(cores: Int, work: String): SparkSession = {
    val s = GraftSession.builder("perfbench").master(s"local[$cores]")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set-up is repeated `n` times and `setup_s` is the median; every
    * deployment but the last is discarded.
    */
  def setups[A](out: Out, n: Int = 3)(make: Int => A)(discard: A => Unit): A = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[A] = None
    (0 until n).foreach { i =>
      val t0 = System.nanoTime()
      val a = make(i)
      times += (System.nanoTime() - t0) / 1e9
      progress(s"set-up $i")
      if (i < n - 1) discard(a) else last = Some(a)
    }
    out.metric("setup_s", Stats.median(times.toSeq), "s")
    out.note("setup_runs_s", times.map(t => f"$t%.3f").mkString(" "))
    last.get
  }

  /** Polls `cond` until it holds; fails on timeout or a dead query. */
  def await(timeoutMs: Long, what: String, qs: Seq[StreamingQuery])(cond: => Boolean): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      qs.flatMap(_.exception).headOption.foreach(e => throw e)
      if (System.currentTimeMillis() > end) throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(5)
    }
  }

  /** The layer a file write belongs to, by its output path. */
  def sinkOf(path: String): Option[String] = Seq(
    "/archive/" -> "archive", "/hot/sentiment/" -> "upsert.sentiment", "/hot/bomb/" -> "upsert.bomb",
    "/hot/players/" -> "upsert.players", "/hot/genre/" -> "upsert.genre"
  ).collectFirst { case (k, v) if path.contains(k) => v }

  def traceFile(o: Opts, name: String): Path = {
    val d = Files.createDirectories(Paths.get(o.work, "trace"))
    d.resolve(name)
  }

  def writeSpans(o: Opts, tr: Tracer): Unit =
    Files.writeString(traceFile(o, "spans.jsonl"), tr.spansAll().map(_.json).mkString("", "\n", "\n"))

  /** The generator's own test: the same seed gives byte-identical topic
    * files, another seed gives different ones, and the program's parse
    * of them yields no null records.
    */
  def genCheck(spark: SparkSession, o: Opts, out: Out): Unit = {
    def write(seed: Long, dir: String): Seq[Path] = {
      val b = Gen.base(seed, 1.0)
      val rig = new Rig(spark, dir)
      val stamp = "2024-01-01T00:00:00Z"
      (0 until 3).flatMap { f =>
        val (from, until) = (f * 700L, (f + 1) * 700L)
        Seq(Gen.writeFile(rig.topic("reviews"), s"r$f.json", from, until)(Gen.review(b, _, stamp)),
          Gen.writeFile(rig.topic("players"), s"p$f.json", from, until)(Gen.players(b, _)),
          Gen.writeFile(rig.topic("games"), s"g$f.json", from, until)(Gen.game(b, _, stamp)))
      }
    }
    val a = write(o.seed, s"${o.work}/a")
    val b = write(o.seed, s"${o.work}/b")
    val c = write(o.seed + 1, s"${o.work}/c")
    def same(x: Seq[Path], y: Seq[Path]) =
      x.zip(y).forall { case (p, q) => java.util.Arrays.equals(Files.readAllBytes(p), Files.readAllBytes(q)) }
    val topics = s"${o.work}/a/topics"
    val r = SteamOps.parseReviews(Sources.jsonLinesBatch(spark, s"$topics/reviews"))
    val p = SteamOps.parsePlayers(Sources.jsonLinesBatch(spark, s"$topics/players"))
    val g = SteamOps.parseCharts(Sources.jsonLinesBatch(spark, s"$topics/games"))
    val nulls = r.filter(r("review_id").isNull || r("app_id").isNull || r("timestamp").isNull ||
        r("recommended").isNull || r("weighted_vote_score").isNull).count() +
      p.filter(p("appid").isNull || p("player_count").isNull || p("timestamp").isNull).count() +
      g.filter(g("appid").isNull || g("name").isNull || g("timestamp").isNull).count()
    out.attempted = r.count() + p.count() + g.count()
    out.metric("identical_same_seed", if (same(a, b)) 1 else 0, "bool")
    out.metric("differs_other_seed", if (same(a, c)) 0 else 1, "bool")
    out.metric("null_records", nulls.toDouble, "count")
    out.metric("producer_fields_dropped", if (r.columns.contains("playtime_forever") ||
      g.columns.contains("price_overview")) 0 else 1, "bool")
  }

  /** The dashboard's retry rule's own test: one reader reads a hot table
    * through `ParquetUpsertSink.read` while it is upserted; every read
    * error seen must be a pointer-swap race, and errors that are not one
    * (a missing snapshot file, a bad panel query) must not be taken for one.
    */
  def raceCheck(spark: SparkSession, o: Opts, out: Out): Unit = {
    import spark.implicits._
    val sink = new ParquetUpsertSink(s"${o.work}/hot/t", Seq("k"))
    sink.upsert(Seq((0, 0L)).toDF("k", "v"), 0)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    @volatile var stop = false
    var reads = 0L
    val reader = new Thread(() => while (!stop) {
      reads += 1
      try sink.read(spark).getOrElse(throw new Dashboard.NoPointer("t"))
      catch { case e: Throwable => errors.add(e) }
    })
    reader.start()
    (1 to 60).foreach(i => sink.upsert(Seq((i % 7, i.toLong)).toDF("k", "v"), i))
    stop = true
    reader.join()
    val seen = errors.toArray(Array.empty[Throwable]).toSeq
    out.attempted = reads
    out.metric("races", seen.count(Dashboard.swapRace).toDouble, "count")
    out.metric("other_errors", seen.count(e => !Dashboard.swapRace(e)).toDouble, "count")
    val notRaces = Seq(new java.io.FileNotFoundException(s"File file:${o.work}/hot/t/v3/part-0.parquet does not exist"),
      Try(spark.range(1).select("missing").collect()).failed.get, new IllegalStateException("_CURRENT"))
    out.metric("misclassified", notRaces.count(Dashboard.swapRace).toDouble, "count")
  }
}
