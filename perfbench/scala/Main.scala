package perfbench

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Benchmark runner: runs one workload against the program's public entry
  * points and writes raw measurements (spans, outputs for the checker, and
  * with tracing on, per-job and per-execution records) as one JSON file.
  * Metrics and correctness are computed from that file by `run.py`.
  *
  * Usage: Main <workload> <inputs dir> <work dir> <seconds> <trace 0|1> <out.json>
  */
object Main {

  /** The session every workload runs under: the program's bench profile
    * (graft.Bench's settings, without its environment knobs) at
    * local[available cores], with every scratch path inside `work`. */
  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.sql.files.maxPartitionBytes", "128m")
      .config("spark.sql.files.openCostInBytes", "4194304")
      .config("spark.shuffle.sort.bypassMergeThreshold", "200")
      // task-end events come in bursts; a full queue would drop them
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "100000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** A workload: fixtures, a warm-up, the measured loop, and the
    * post-run reads the checker needs. */
  trait Workload {
    /** Turn generated inputs into the form the program reads; input
      * preparation, outside set-up timing. */
    def prepare(spark: SparkSession): Unit = ()
    /** Build this workload's fixtures on `spark`; return their teardown. */
    def setUp(spark: SparkSession): () => Unit
    def warmUp(spark: SparkSession, spans: Spans): Unit
    def measure(spark: SparkSession, spans: Spans, seconds: Double): Unit
    /** Outputs for the checker, read after the measured window. */
    def results(spark: SparkSession): JValue
  }

  def main(args: Array[String]): Unit = {
    val Array(name, inputs, work, secondsArg, traceArg, out) = args
    val seconds = secondsArg.toDouble
    val workload: Workload = name match {
      case "etl_small"     => new EtlSmall(inputs, work)
      case "stream_ingest" => new StreamIngest(inputs, work)
      case "corpus_dedup"  => new CorpusDedup(inputs, work)
    }
    val trace = if (traceArg == "1") Some(new Trace) else None
    val spans = new Spans

    // set-up, as a user starting the system meets it: one cold session
    // start, the fixtures and the warm-up, without input preparation
    val t0 = System.nanoTime()
    val spark = session(work)
    trace.foreach(_.register(spark))
    val t1 = System.nanoTime()
    workload.prepare(spark)
    val t2 = System.nanoTime()
    val teardown = workload.setUp(spark)
    val w0 = System.nanoTime()
    workload.warmUp(spark, spans)
    val t3 = System.nanoTime()
    val setupS = ((t1 - t0) + (t3 - t2)) / 1e9
    val warmupS = (t3 - w0) / 1e9

    val m0 = Clock.nowMs
    workload.measure(spark, spans, seconds)
    val m1 = Clock.nowMs
    val liveHeap = liveHeapBytes
    val results = workload.results(spark)
    teardown()
    // stopping the context drains the listener bus: every event is in
    spark.stop()

    val doc = JObject(
      "workload" -> JString(name),
      "setup_s" -> JDouble(setupS),
      "warmup_s" -> JDouble(warmupS),
      "measure_start" -> JDouble(m0), "measure_end" -> JDouble(m1),
      "live_heap_bytes" -> JInt(liveHeap),
      "peak_rss_kb" -> JInt(peakRssKb),
      "spans" -> spans.json,
      "results" -> results,
      "trace" -> trace.map(_.json).getOrElse(JNull))
    Files.write(Paths.get(out), JsonMethods.compact(JsonMethods.render(doc)).getBytes(UTF_8))
    // a thread the program left behind must not keep the JVM alive
    sys.exit(0)
  }

  /** Heap still in use after a full collection: what the measured work
    * left resident (caches, state maps, status stores). */
  def liveHeapBytes: Long = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    // A collection hands Spark's context cleaner the broadcasts and
    // shuffles of plans no longer referenced; it drops their blocks from
    // its own thread, polling every 100 ms, and the next collection frees
    // them. Collect until the figure stops falling.
    def collect(): Long = {
      System.gc()
      Thread.sleep(CleanerPollMs)
      System.gc()
      heap.getHeapMemoryUsage.getUsed
    }
    var prev = collect()
    var used = collect()
    var rounds = 2
    while (used < prev * 0.99 && rounds < 5) {
      prev = used
      used = collect()
      rounds += 1
    }
    used
  }

  /** Longer than the context cleaner's reference-queue poll (100 ms). */
  val CleanerPollMs = 300L

  /** High-water resident set of this JVM (Linux VmHWM), in kB. */
  def peakRssKb: Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
}
