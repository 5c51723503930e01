package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** One in-session workload run: a closed loop with one client, one op in
  * flight. Reads a properties file written by `run.py`, runs one warm-up
  * pass and then `passes` whole timed passes over the ops, more while fewer than
  * `seconds` have elapsed: a fixed pass count keeps the sample count, and so
  * the tail percentile, the same from run to run. Writes every op interval,
  * plus the trace events when `trace=1`, to `events`. It judges nothing:
  * `run.py` checks the counts and computes the metrics.
  *
  * An op is `name|family`, where `name` is a declared query in
  * `SparkEntry.queries`, run with `.count()`. `ops` lists units separated
  * by `,`; a unit is one or more ops joined by `+` that keep their listed
  * order, so the op that builds a shared snapshot is the same in every pass.
  * The seed permutes the units.
  */
object Harness {

  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** Epoch milliseconds with sub-millisecond resolution, on the same clock as
    * Spark's listener event times.
    */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class Op(name: String, family: String)

  def main(args: Array[String]): Unit = {
    val conf = new java.util.Properties()
    val in = new java.io.FileInputStream(args(0))
    try conf.load(in) finally in.close()
    val data = conf.getProperty("data")
    val seed = conf.getProperty("seed").toLong
    val seconds = conf.getProperty("seconds").toDouble
    val minPasses = conf.getProperty("passes").toInt
    val trace = conf.getProperty("trace") == "1"
    val cores = conf.getProperty("cores")
    val units = conf.getProperty("ops").split(",").toSeq.map(_.split("\\+").toSeq.map { s =>
      val Array(n, f) = s.split("\\|"); Op(n, f)
    })

    val records = Seq.newBuilder[String]
    val boot0 = now()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", conf.getProperty("tmp"))
      .config("spark.sql.warehouse.dir", conf.getProperty("warehouse"))
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    if (trace) sc.addSparkListener(new JobTrace)
    lazy val planTrace = new PlanTrace
    lazy val streamTrace = new StreamTrace
    spark.conf.get("spark.sql.shuffle.partitions") // forces the session state
    val bootMs = now() - boot0

    def runOp(s: SparkSession, pass: Int, op: Op): Unit = {
      sc.setLocalProperty(JobTrace.OpKey, s"$pass:${op.name}")
      val t0 = now()
      val (count, err) =
        try (Some(SparkEntry.queries(op.name)(s, data).count()), None)
        catch { case e: Throwable => (None, Some(rootCause(e))) }
      val t1 = now()
      sc.setLocalProperty(JobTrace.OpKey, null)
      records += Json.obj("pass" -> pass, "op" -> op.name, "family" -> op.family,
        "start" -> t0, "end" -> t1, "count" -> count,
        "error" -> err.map { case (c, m) => Map("class" -> c, "message" -> m) })
    }

    // Each pass runs every op once, in its own seeded order, in a fresh
    // session on the shared context: the shared snapshots the query modules
    // cache per session are rebuilt by their first consumer inside the pass.
    // Pass 0 is set-up: it pays class loading, JIT and whole-stage codegen,
    // which depend on the op, not on the order, so the timed passes measure
    // the ops themselves.
    def runPass(pass: Int): (Int, Double, Double) = {
      val s = spark.newSession()
      // query-execution and streaming listeners are per session
      if (trace) {
        s.listenerManager.register(planTrace)
        s.streams.addListener(streamTrace)
      }
      val order = new scala.util.Random(seed * 7919 + pass).shuffle(units).flatten
      val t0 = now()
      order.foreach(op => runOp(s, pass, op))
      (pass, t0, now())
    }
    runPass(0)
    val ready = now()
    val calmWaitMs = waitForCalm(conf.getProperty("calm_wait_s").toDouble)
    val passes = Seq.newBuilder[(Int, Double, Double)]
    var pass = 1
    var done = false
    while (!done) {
      val p = runPass(pass)
      passes += p
      done = pass >= minPasses && p._3 - ready >= seconds * 1000
      pass += 1
    }

    if (trace) org.apache.spark.PerfbenchBridge.drain(sc)
    val storage = sc.getRDDStorageInfo
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    import scala.jdk.CollectionConverters._
    val summary = Json.obj(
      "main" -> boot0,
      "calm_wait_ms" -> calmWaitMs,
      "boot_ms" -> bootMs,
      "ready" -> ready,
      "passes" -> passes.result().map { case (k, a, b) => Seq(k.toDouble, a, b) },
      "persisted_rdds" -> storage.length,
      "retained_bytes" -> storage.map(r => r.memSize + r.diskSize).sum,
      "gc_ms" -> gc.asScala.map(b => math.max(0L, b.getCollectionTime)).sum,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory)
    spark.stop()
    val ops = records.result().mkString("[\n", ",\n", "\n]")
    Events.write(conf.getProperty("events"),
      s"""{"summary":$summary,\n"ops":$ops,\n"trace":${Events.json}}\n""")
  }

  /** Hypervisor steal ticks so far, summed over all CPUs (/proc/stat). */
  def stealTicks(): Long = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+")(8).toLong finally src.close()
  }

  /** Waits, at most `budgetS` seconds, for a half second in which the host
    * steals no more than `CalmSteal` ticks, so the timed passes do not start
    * inside a burst of contention from other tenants. Returns the wait in ms.
    */
  def waitForCalm(budgetS: Double): Double = {
    val t0 = now()
    var calm = false
    while (!calm && now() - t0 < budgetS * 1000) {
      val s0 = stealTicks()
      Thread.sleep(500)
      calm = stealTicks() - s0 <= CalmSteal
    }
    now() - t0
  }

  val CalmSteal = 4

  def rootCause(e: Throwable): (String, String) = {
    var c = e
    while (c.getCause != null && (c.getCause ne c)) c = c.getCause
    (c.getClass.getName, Option(c.getMessage).getOrElse("").take(500))
  }
}
