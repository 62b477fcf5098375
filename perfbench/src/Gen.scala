package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded, deterministic inputs for every workload.
  *
  * One seed fixes a base corpus shaped like the catalog's testdata tables
  * (`events`, `documents`, `embeddings`: same columns, value ranges and a
  * planted near-duplicate share). The three topic streams are derived
  * from that corpus record by record:
  *  - `game_comments`: review k comes from base event k mod n (author,
  *    verdict, event time) and a document (text, language); replica
  *    k / n shifts event time by 30 days and gets disjoint review ids;
  *  - `game_player_count`: sample k comes from base event k mod n;
  *  - `game_info`: game k comes from document k mod n (genres from its
  *    tokens, with null, empty, single and multi-element arrays).
  * Each record carries the producer-only fields the engine's `from_json`
  * must drop, and `scraped_at` / `timestamp_scraped` hold the stamp the
  * caller passes: the wall-clock creation time of the file.
  *
  * App ids grow with the record index (a fresh block of app ids every
  * [[AppBlock]] records), so the review-bomb hot table keeps growing
  * under a long backlog instead of saturating at the base user count.
  */
object Gen {
  val Vocab: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  val EventTypes: Array[String] = Array("click", "view", "purchase", "signup", "error")
  private val Langs = Array("en", "en", "en", "en", "es", "de", "fr", "zh", "es", "de", "fr", "zh")
  private val Epoch2024 = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC)
  private val SpanMicros = 30L * 86400L * 1000000L
  val AppBlock = 2100

  final case class Event(id: Long, tsMicros: Long, user: Int, etype: String, cents: Long, k: Int)
  final case class Doc(id: Long, text: String, lang: String, source: String)
  final case class Vec(id: Long, v: Array[Float], label: Int)
  final case class Base(events: Array[Event], docs: Array[Doc], vecs: Array[Vec]) {
    val users: Int = events.map(_.user).max + 1
  }

  /** Row counts of the base corpus: `scale` 1.0 is the sf0.1 testdata
    * size (100 k events, 5 k documents, 2 k embeddings).
    */
  def base(seed: Long, scale: Double): Base = {
    val nE = math.max(1000, (100000 * scale).toInt)
    val nD = math.max(100, (5000 * scale).toInt)
    val nV = math.max(100, (2000 * scale).toInt)
    val users = math.max(20, nE / 66)
    val r = new SplittableRandom(seed)
    val ts = Array.fill(nE)(r.nextLong(SpanMicros)).sorted
    val events = Array.tabulate(nE) { i =>
      val u = r.nextDouble()
      Event(i, Epoch2024 * 1000000L + ts(i), r.nextInt(users),
        EventTypes(r.nextInt(EventTypes.length)), (u * u * 56021).toLong, r.nextInt(100))
    }
    val docs = new Array[Doc](nD)
    for (i <- 0 until nD) {
      val text =
        if (i > 20 && r.nextInt(1000) < 4) docs(r.nextInt(i)).text // exact duplicate
        else if (i > 20 && r.nextInt(100) < 5) { // near duplicate: one token swapped + marker
          val toks = docs(r.nextInt(i)).text.split(' ')
          toks(r.nextInt(toks.length)) = Vocab(r.nextInt(Vocab.length))
          toks.mkString(" ") + " dup"
        } else Array.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
      docs(i) = Doc(i, text, Langs(r.nextInt(Langs.length)), s"src${i % 20}")
    }
    val centroids = Array.fill(10, 64)((r.nextDouble() * 0.6 - 0.3).toFloat)
    val vecs = Array.tabulate(nV) { i =>
      val label = r.nextInt(10)
      Vec(i, Array.tabulate(64)(j =>
        (centroids(label)(j) + (r.nextDouble() - 0.5) * 0.2).toFloat), label)
    }
    Base(events, docs, vecs)
  }

  /** Writes `events`, `documents` and `embeddings` as `<dir>/<name>.parquet`
    * in the testdata layout the catalog's `Tables` reads (event time as
    * timestamp without time zone, money as 2-dp doubles).
    */
  def writeTables(spark: SparkSession, b: Base, dir: String): Unit = {
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    write("events", StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))),
      b.events.toSeq.map(e => Row(e.id,
        LocalDateTime.ofEpochSecond(Math.floorDiv(e.tsMicros, 1000000L),
          (Math.floorMod(e.tsMicros, 1000000L) * 1000).toInt, ZoneOffset.UTC),
        e.user.toLong, e.etype, e.cents / 100.0, s"""{"k": ${e.k}}""")))
    write("documents", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))),
      b.docs.toSeq.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)))
    write("embeddings", StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true)),
      StructField("label", IntegerType))),
      b.vecs.toSeq.map(v => Row(v.id, v.v.toSeq, v.label)))
  }

  // ---- topic records ----

  private def iso(epochSec: Long): String =
    LocalDateTime.ofEpochSecond(epochSec, 0, ZoneOffset.UTC).toString match {
      case s if s.length == 16 => s + ":00" // LocalDateTime drops ":00" seconds
      case s => s
    }

  private def quote(s: String): String = {
    val sb = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** App id of stream record k: the base user, moved to a fresh id block
    * every [[AppBlock]] records.
    */
  def appOf(b: Base, k: Long): Long = b.events((k % b.events.length).toInt).user + b.users * (k / AppBlock)

  def reviewId(b: Base, k: Long): String =
    s"r${k / b.events.length}-${b.events((k % b.events.length).toInt).id}"

  /** `game_comments` record k. `weighted_vote_score` is a multiple of
    * 1/256, so float sums are exact and streamed and batch averages agree
    * bit for bit whatever the summation order.
    */
  def review(b: Base, k: Long, stamp: String): String = {
    val e = b.events((k % b.events.length).toInt)
    val rep = k / b.events.length
    val d = b.docs((k % b.docs.length).toInt)
    val score = BigDecimal(e.cents % 257) / 256
    val created = Math.floorDiv(e.tsMicros, 1000000L) + rep * (SpanMicros / 1000000L)
    s"""{"app_id":"${appOf(b, k)}","review_id":"${reviewId(b, k)}","author_steamid":"7656${e.user}",""" +
      s""""language":"${d.lang}","voted_up":${e.etype == "purchase" || e.etype == "signup"},""" +
      s""""votes_up":${e.k},"weighted_vote_score":${score.bigDecimal.toPlainString},""" +
      s""""timestamp_created":$created,"review_text":${quote(d.text)},"scraped_at":"$stamp",""" +
      s""""playtime_at_review":${e.cents % 5000},"playtime_forever":${e.cents % 9000 + e.k}}"""
  }

  /** `game_player_count` record k (event time monotone in k, so the
    * players query's 5-minute watermark never drops a sample).
    */
  def players(b: Base, k: Long): String = {
    val e = b.events((k % b.events.length).toInt)
    val rep = k / b.events.length
    val ts = Math.floorDiv(e.tsMicros, 1000000L) + rep * (SpanMicros / 1000000L)
    s"""{"appid":${appOf(b, k)},"player_count":${e.cents / 10},"timestamp":"${iso(ts)}"}"""
  }

  /** `game_info` record k: genres cycle through null, empty, single and
    * multi-element arrays.
    */
  def game(b: Base, k: Long, stamp: String): String = {
    val d = b.docs((k % b.docs.length).toInt)
    val toks = d.text.split(' ')
    val genres = (k % 5).toInt match {
      case 0 => "null"
      case 1 => "[]"
      case n => toks.take(n - 1).map(quote).mkString("[", ",", "]")
    }
    s"""{"name":"game $k","appid":$k,"type":"${if (k % 7 == 0) "dlc" else "game"}",""" +
      s""""genres":$genres,"timestamp_scraped":"$stamp","primary_genre":${quote(toks.head)},""" +
      s""""release_date":"2024-01-01","is_free":${k % 3 == 0},"short_description":${quote(d.text.take(40))},""" +
      s""""developers":["dev ${k % 11}"],"publishers":["pub ${k % 13}"],""" +
      s""""price_overview":{"currency":"USD","initial":${k % 5000},"final":${k % 4000}},""" +
      s""""categories":["Single-player"],"metacritic":${if (k % 4 == 0) "null" else (k % 100).toString},""" +
      s""""recommendations":${k % 1000},"achievements_count":${k % 50}}"""
  }

  /** ISO-8601 stamp (millisecond precision, UTC) of a wall-clock instant. */
  def stamp(epochMs: Long): String = Instant.ofEpochMilli(epochMs).toString

  /** Writes records [from, until) of a topic as one json-lines file,
    * atomically: the file source ignores dot-files, so the rename is the
    * moment the file becomes visible. Returns the file's path.
    */
  def writeFile(dir: Path, name: String, from: Long, until: Long)(rec: Long => String): Path = {
    val sb = new java.lang.StringBuilder()
    var k = from
    while (k < until) { sb.append(rec(k)).append('\n'); k += 1 }
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, sb.toString.getBytes(UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }
}
