package perfbench

import graft.Tables
import graft.catalog.CatalogSync
import graft.dedup.Dedup
import graft.model.{PipelineLayout, PipelineOutcome}
import graft.orchestrate.ReferencePipeline
import graft.quality.Quality.Check
import graft.service.{PipelineHttpServer, PipelineService}
import graft.sink.Sinks
import graft.state.{StateLog, StreamMetricsListener}
import graft.streaming.StreamingPipeline
import graft.validate.SchemaValidator.Rule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** The event feed every ETL workload lands, and the pipeline spec it runs
  * under. `gen.py` writes rows against these rules and this gate check. */
object Events {
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  val rules: Seq[Rule] = Seq(
    Rule("value_le_300", col("value") <= 300.0),
    Rule("known_type", col("event_type").isin("click", "view", "purchase", "signup")),
    Rule("k_lt_80", get_json_object(col("props"), "$.k").cast("long") < 80))

  /** Gate check: a zero-value row passes validation but not quality. */
  val checks: Seq[Check] = Seq(Check("value_positive", col("value") > 0.0))

  val transform: DataFrame => DataFrame =
    _.withColumn("amount_cents", round(col("value") * 100).cast("long"))

  def spec(t: DataFrame => DataFrame = transform): ReferencePipeline.Spec =
    ReferencePipeline.Spec(rules, t, checks)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).json(path)
}

object Json {
  def value(v: Any): JValue = v match {
    case null                      => JNull
    case x: Long                   => JInt(x)
    case x: Int                    => JInt(x)
    case x: Short                  => JInt(x.toInt)
    case x: Double                 => JDouble(x)
    case x: Boolean                => JBool(x)
    case x: java.math.BigDecimal   => JString(x.toPlainString)
    case x                         => JString(x.toString)
  }
  def rows(rs: Seq[Row]): JValue = JArray(rs.toList.map(r => JArray(r.toSeq.toList.map(value))))
}

object Loop {
  def deadline(seconds: Double): Double = Clock.nowMs + seconds * 1000
  def sleepUntil(t: Double): Unit = {
    val ms = t - Clock.nowMs
    if (ms > 0) Thread.sleep(ms.toLong, ((ms % 1) * 1e6).toInt)
  }
}

/** etl_small: closed loop, two clients, each on its own HTTP connection.
  * A client starts a one-hour batch with POST /pipelines, polls
  * GET /pipelines/{id} every `PollMs` until the run is terminal, and on
  * every fourth run also sends PUT /pipelines/{id} and
  * GET /pipelines?status=. */
final class EtlSmall(inputs: String, work: String) extends Main.Workload {
  val Clients = 2
  /** Warm-up runs per client (gen.py's SMALL_WARMUP_RUNS = Clients x this). */
  val WarmRounds = 2
  val PollMs = 50.0
  val RunTimeoutMs = 60000.0

  private val layout = PipelineLayout(s"$work/small/lake")
  private val plan: List[(String, Boolean)] = {
    val JArray(items) = JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get(s"$inputs/small/plan.json")), "UTF-8"))
    items.map { it =>
      val JString(n) = it \ "name"; val JBool(f) = it \ "flaky"; (n, f)
    }
  }
  /** Batches whose transform still has to throw once (retry path). */
  private val flakyPending = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private var stateLog: StateLog = _
  private var server: PipelineHttpServer = _
  private val runs = new java.util.concurrent.ConcurrentLinkedQueue[JValue]()

  private def transformFor(name: String): DataFrame => DataFrame = { df =>
    if (flakyPending.remove(name))
      throw new IllegalStateException(s"injected first-attempt failure for $name")
    Events.transform(df)
  }

  def setUp(spark: SparkSession): () => Unit = {
    stateLog = new StateLog(spark, s"$work/small/state")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Clients)
    val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val service = new PipelineService(spark, stateLog)(ec)
    val registry: Map[String, String => PipelineOutcome] =
      ((0 until Clients * WarmRounds).map(w => s"warmup$w").toList ++ plan.map(_._1)).map { name =>
        name -> { (id: String) =>
          ReferencePipeline.run(id, Events.read(spark, s"$inputs/small/$name.json"),
            Events.spec(transformFor(name)), layout, stateLog)
        }
      }.toMap
    server = new PipelineHttpServer(service, registry).start()
    () => { server.stop(); pool.shutdownNow(); () }
  }

  private final class Client(spans: Spans) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private def base = s"http://127.0.0.1:${server.boundPort}/pipelines"

    /** One request, timed as a `control` span; returns (status, body). */
    def call(route: String, method: String, path: String, body: String = ""): (Int, JValue) = {
      val req = HttpRequest.newBuilder(URI.create(base + path))
        .method(method, if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
                        else HttpRequest.BodyPublishers.ofString(body))
        .build()
      val t0 = Clock.nowMs
      val r = try Some(http.send(req, HttpResponse.BodyHandlers.ofString()))
              catch { case _: java.io.IOException => None }
      val code = r.map(_.statusCode()).getOrElse(-1)
      spans.record(route, "control", t0, Clock.nowMs, code >= 200 && code < 300)
      (code, r.flatMap(x => JsonMethods.parseOpt(x.body())).getOrElse(JNothing))
    }

    /** POST a batch and poll until its run is terminal. */
    def run(name: String, k: Int): Unit = {
      val t0 = Clock.nowMs
      val (code, posted) = call("post", "POST", "", s"""{"pipeline":"$name"}""")
      val id = posted \ "id" match { case JString(s) => s; case _ => "" }
      var terminal: Option[JValue] = None
      var polls = 0
      while (code == 202 && terminal.isEmpty && Clock.nowMs - t0 < RunTimeoutMs) {
        polls += 1
        Loop.sleepUntil(t0 + polls * PollMs)
        val (c, row) = call("status", "GET", s"/$id")
        val done = (row \ "stage", row \ "status", row \ "detail") match {
          case (JString("pipeline"), JString(s), JString(d)) =>
            (s == "SUCCEEDED" || s == "FAILED") && !d.startsWith("submitted")
          case _ => false
        }
        if (c == 200 && done) terminal = Some(row)
      }
      val t1 = Clock.nowMs
      val status = terminal.map(_ \ "status") match { case Some(JString(s)) => s; case _ => "NONE" }
      var listed = -1
      if (terminal.isDefined && k % 4 == 3) {
        call("update", "PUT", s"/$id", """{"detail":"reviewed"}""")
        call("list", "GET", s"?status=$status") match {
          case (200, JArray(rows)) => listed = rows.size
          case _ => ()
        }
      }
      spans.record(name, "run", t0, t1, terminal.isDefined, Map(
        "pipeline_id" -> JString(id), "status" -> JString(status),
        "listed" -> JInt(listed)))
    }
  }

  /** `WarmRounds` runs per client, concurrently, as the measured loop runs
    * them: run time still falls ~20 % from the first round to the third. */
  def warmUp(spark: SparkSession, spans: Spans): Unit = {
    val threads = (0 until Clients).map { w =>
      new Thread(() => {
        val client = new Client(new Spans)
        (0 until WarmRounds).foreach(r => client.run(s"warmup${w + r * Clients}", 0))
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  def measure(spark: SparkSession, spans: Spans, seconds: Double): Unit = {
    plan.filter(_._2).foreach(p => flakyPending.add(p._1))
    val end = Loop.deadline(seconds)
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (0 until Clients).map { _ =>
      new Thread(() => {
        val client = new Client(spans)
        var k = next.getAndIncrement()
        while (Clock.nowMs < end && k < plan.size) {
          client.run(plan(k)._1, k)
          k = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  def results(spark: SparkSession): JValue = {
    val processed = spark.read.parquet(layout.processed)
      .groupBy(floor(col("event_id") / 10000000L).as("batch")).count().collect()
    val quarantined = Sinks.readQuarantine(spark, layout.errors)
      .groupBy(col("_error_batch")).count().collect()
    val staging = Paths.get(layout.processed, ".staging")
    val staged = if (!Files.isDirectory(staging)) Nil else
      Files.list(staging).iterator().asScala.toList.map { p =>
        val n = p.getFileName.toString
        JArray(List(JString(n), JInt(spark.read.parquet(p.toString).count())))
      }
    JObject(
      "clients" -> JInt(Clients),
      "processed" -> Json.rows(processed.toSeq),
      "quarantined" -> Json.rows(quarantined.toSeq),
      "staged" -> JArray(staged),
      "journal" -> Json.rows(stateLog.journal().collect().toSeq))
  }
}

/** stream_ingest: open loop. The main thread lands one seeded JSON file
  * in `incoming/` every `IntervalMs` for the first `SteadyShare` of the
  * run while the ingest query runs on a short processing-time trigger.
  * The landed table is registered in the catalog at the end of the
  * warm-up; once ingest has caught up, a catalog sync discovers the
  * partitions the run landed and a fixed set of analyst queries runs over
  * the table; then a seeded backlog is drained with an availableNow
  * query. */
final class StreamIngest(inputs: String, work: String) extends Main.Workload {
  val IntervalMs = 250.0
  val SteadyShare = 0.7
  val Trigger = "200 milliseconds"
  val BacklogFilesPerTrigger = 4

  private val layout = PipelineLayout(s"$work/stream/lake")
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  private val landed = scala.collection.mutable.ArrayBuffer.empty[JValue]
  private var progress: JValue = JArray(Nil)
  private var drainProgress: JValue = JArray(Nil)
  private var drainLayout: PipelineLayout = _

  private val Table = "stream_lake"
  private val answers = scala.collection.mutable.ArrayBuffer.empty[JValue]

  /** Analyst queries over the landed stream once ingest has caught up
    * (file i carries hour i, so day 1 holds the first 24 files). Half
    * prune on partition columns. */
  def queries(t: String): Seq[(String, String)] = {
    val cents = "CAST(round(value * 100) AS BIGINT)"
    Seq(
      "type_totals" -> s"SELECT event_type, count(*), sum($cents) FROM $t GROUP BY event_type ORDER BY event_type",
      "first_day_hours" -> s"SELECT hour, count(*), sum($cents) FROM $t WHERE year = 2024 AND month = 1 AND day = 1 GROUP BY hour ORDER BY hour",
      "top_users" -> s"SELECT user_id, count(*) AS n FROM $t GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10",
      "point_hour" -> s"SELECT event_type, count(*) FROM $t WHERE day = 1 AND hour = 3 GROUP BY event_type ORDER BY event_type",
      "value_bands" -> s"SELECT $cents div 5000 AS band, count(*) FROM $t GROUP BY band ORDER BY band",
      "first_day_users" -> s"SELECT count(DISTINCT user_id) FROM $t WHERE day = 1")
  }

  private def ingest(spark: SparkSession, dir: String, target: PipelineLayout,
                     availableNow: Boolean, perTrigger: Int = 100) =
    StreamingPipeline.partitionedSink(
      StreamingPipeline.processingStream(
        StreamingPipeline.jsonFileSource(spark, dir, Events.schema, maxFilesPerTrigger = perTrigger),
        Events.rules),
      target, triggerInterval = Trigger, availableNow = availableNow)

  def setUp(spark: SparkSession): () => Unit = {
    Files.createDirectories(Paths.get(layout.incoming))
    val metrics = new StreamMetricsListener(new StateLog(spark, s"$work/stream/state"))
    spark.streams.addListener(metrics)
    query = ingest(spark, layout.incoming, layout, availableNow = false).queryName("ingest").start()
    () => { if (query.isActive) query.stop(); spark.streams.removeListener(metrics) }
  }

  private def files(kind: String): List[java.nio.file.Path] =
    Files.list(Paths.get(s"$inputs/stream/$kind")).iterator().asScala
      .toList.sortBy(_.getFileName.toString)

  /** Land `f` in `incoming/` under a hidden name, then rename it, so the
    * source never sees a partial file; returns when it landed. */
  private def land(f: java.nio.file.Path): Double = {
    val incoming = Paths.get(layout.incoming)
    val tmp = incoming.resolve("." + f.getFileName)
    Files.copy(f, tmp)
    Files.move(tmp, incoming.resolve(f.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
    Clock.nowMs
  }

  /** The ingest query itself takes the warm-up files, one micro-batch each:
    * a fresh query's first batches run up to twice as slow as later ones.
    * Then the landed table is registered, as an analyst table is before
    * the stream it reads flows. */
  def warmUp(spark: SparkSession, spans: Spans): Unit = {
    files("warmup").foreach { f => land(f); query.processAllAvailable() }
    spans.time(spark, "register", "catalog_register")(_ =>
      CatalogSync.register(spark, Table, layout.processed))
  }

  def measure(spark: SparkSession, spans: Spans, seconds: Double): Unit = {
    val warmBatches = query.recentProgress.length
    val t0 = Clock.nowMs
    val steadyEnd = t0 + seconds * SteadyShare * 1000
    files("steady").zipWithIndex.map { case (f, i) => (f, t0 + i * IntervalMs) }
      .takeWhile(_._2 < steadyEnd)
      .foreach { case (f, due) =>
        Loop.sleepUntil(due)
        val at = land(f)
        val name = f.getFileName.toString
        spans.record(name, "land", due, at, ok = true)
        landed += JObject("file" -> JString(name), "due" -> JDouble(due), "landed" -> JDouble(at))
      }
    val steadyStop = Clock.nowMs
    spans.time(spark, "catch_up", "stream")(_ => query.processAllAvailable())
    progress = JArray(query.recentProgress.toList.drop(warmBatches).map(p => JsonMethods.parse(p.json)))
    query.stop()
    spans.time(spark, "sync", "catalog_sync")(_ => CatalogSync.sync(spark, Table))
    queries(Table).foreach { case (name, q) =>
      val rows = spans.time(spark, name, "sql")(_ => spark.sql(q).collect())
      answers += JObject("query" -> JString(name), "rows" -> Json.rows(rows.toSeq))
    }
    drainLayout = PipelineLayout(s"$work/stream/drain")
    val drain = spans.time(spark, "drain", "drain") { _ =>
      val q = ingest(spark, s"$inputs/stream/backlog", drainLayout, availableNow = true,
        perTrigger = BacklogFilesPerTrigger).queryName("drain").start()
      q.awaitTermination()
      q
    }
    drainProgress = JArray(drain.recentProgress.toList.map(p => JsonMethods.parse(p.json)))
    spans.record("steady", "steady", t0, steadyStop, ok = true)
  }

  private def landedStats(spark: SparkSession, l: PipelineLayout): JValue = {
    val p = spark.read.parquet(l.processed)
      .agg(count(lit(1)), countDistinct(col("event_id")), sum(col("event_id"))).head()
    val q = Sinks.readQuarantine(spark, l.errors)
      .agg(count(lit(1)), sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L))).head()
    JObject("rows" -> JInt(p.getLong(0)), "distinct_ids" -> JInt(p.getLong(1)),
      "id_sum" -> JInt(BigInt(p.getLong(2))), "quarantined" -> JInt(q.getLong(0)),
      "malformed" -> JInt(if (q.isNullAt(1)) 0L else q.getLong(1)))
  }

  def results(spark: SparkSession): JValue = JObject(
    "landed" -> JArray(landed.toList),
    "progress" -> progress,
    "drain_progress" -> drainProgress,
    "steady" -> landedStats(spark, layout),
    "drain" -> landedStats(spark, drainLayout),
    "answers" -> JArray(answers.toList),
    "partitions" -> JInt(spark.sql(s"SHOW PARTITIONS $Table").count()),
    "lake" -> JString(layout.root))
}

/** corpus_dedup: closed loop, one client. Each pass runs the three
  * near-duplicate detectors d20 (prefix-filtered exact Jaccard), d22
  * (df-capped exact inverted index) and d04 (SimHash) over the corpus. */
final class CorpusDedup(inputs: String, work: String) extends Main.Workload {
  private val corpus = s"$work/dedup/corpus"
  private val passes = scala.collection.mutable.ArrayBuffer.empty[JValue]

  val Detectors: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "d20" -> Dedup.d20PrefixJoin, "d22" -> Dedup.d22DfCapIndex, "d04" -> Dedup.d04SimHash)

  /** Land the generated JSON corpus as the `documents` parquet table the
    * detectors read. Input preparation, not set-up. */
  override def prepare(spark: SparkSession): Unit =
    spark.read.schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .json(s"$inputs/dedup/corpus.jsonl")
      .coalesce(1).write.mode("overwrite").parquet(s"$corpus/documents.parquet")

  def setUp(spark: SparkSession): () => Unit = {
    Tables.documents(spark, corpus)
    () => ()
  }

  private def pass(spark: SparkSession, dir: String): Seq[(String, Array[Row])] =
    Detectors.map { case (n, f) => n -> f(spark, dir).collect() }

  /** One pass over the measured corpus itself: a pass over a smaller
    * slice compiles the same plans but leaves the JIT on the join loops
    * short of where full-size data takes it. The first measured pass is
    * still ~15 % slower than later ones; a second warm-up pass would cost
    * ~9 s of every run, which the evaluation's run budget does not have. */
  def warmUp(spark: SparkSession, spans: Spans): Unit = pass(spark, corpus)

  /** A pass takes ~8-10 s, so a 10 s window would hold one or two of them
    * depending on host speed; every run measures at least this many. */
  val MinPasses = 2

  def measure(spark: SparkSession, spans: Spans, seconds: Double): Unit = {
    val end = Loop.deadline(seconds)
    var i = 0
    while (i < MinPasses || Clock.nowMs < end) {
      spans.time(spark, s"pass-$i", "pass") { p =>
        val outs = Detectors.map { case (n, f) =>
          n -> spans.time(spark, n, "dedup_" + n, p)(_ => f(spark, corpus).collect())
        }
        passes += JObject(outs.toList.map { case (n, rows) =>
          val sorted = rows.map(_.toSeq.mkString(",")).sorted
          n -> JObject(
            "hash" -> JString(md5(sorted.mkString("\n"))),
            "rows" -> (if (i == 0) Json.rows(rows.toSeq) else JNothing))
        })
      }
      i += 1
    }
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def results(spark: SparkSession): JValue = JObject(
    "passes" -> JArray(passes.toList),
    "docs" -> JInt(spark.read.parquet(s"$corpus/documents.parquet").count()))
}
