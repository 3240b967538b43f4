package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command line of one benchmark process (see perfbench/run.py). */
final case class Opts(
    workload: String, seed: Long, traced: Boolean, cpus: Int,
    inputs: String, work: String, tables: String, pins: String, out: String,
    sizes: Map[String, Int]) {
  /** A workload size (files per trigger) from run.py. */
  def size(name: String): Int = sizes(name)
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(kv("workload"), kv("seed").toLong, kv("trace") == "1",
      kv("cpus").toInt, kv("inputs"), kv("work"), kv("tables"), kv("pins"), kv("out"),
      kv.collect { case (k, v) if k.startsWith("size.") => k.stripPrefix("size.") -> v.toInt })
  }
}

/** State shared by a workload's phases. */
final class Ctx(val spark: SparkSession, val opts: Opts, val trace: Trace,
                val plans: Option[LastPlan], val progress: ProgressLog) {
  val checks: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer.empty
  /** Workload-level records that are not spans (written to the result). */
  val records: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  def check(name: String, ok: Boolean, detail: String): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  lazy val battery: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.queries

  /** The noise sentinel: the battery's cheapest, constant-cost plan. */
  def sentinel(parent: Span): Unit =
    trace.attempt("sentinel", "sentinel", parent)(_ => noop(battery("o3_limit")(spark, opts.tables)))

  /** Drains the listener bus in a traced run (listener state complete). */
  def drain(): Unit = if (opts.traced) Trace.drainListenerBus(spark)
}

/** One phase of a workload run: set up (untimed), measure, verify. */
trait Workload {
  def name: String
  def setup(ctx: Ctx, parent: Span): Unit
  def measure(ctx: Ctx, parent: Span): Unit
  def verify(ctx: Ctx, parent: Span): Unit
  /** Extra per-layer measurements a traced run makes after the measured
    * phase, so they do not count in the end-to-end figures. */
  def probe(ctx: Ctx, parent: Span): Unit = ()
}

/** No timed operation may reuse state a previous operation filled: the
  * session's cached plans are dropped, and so is every session-keyed memo
  * map the operator objects hold (a memo filled by one query would
  * otherwise make a later consumer read as nearly free). */
object Hygiene {
  private val memoOwners = Seq("graft.operators.Dedup$", "graft.operators.Analytics$")

  /** Returns the number of memo entries dropped. */
  def reset(spark: SparkSession): Int = {
    spark.catalog.clearCache()
    memoOwners.map { cls =>
      try {
        val c = Class.forName(cls)
        val module = c.getField("MODULE$").get(null)
        c.getDeclaredFields.toSeq
          .filter(f => classOf[java.util.Map[_, _]].isAssignableFrom(f.getType))
          .map { f =>
            f.setAccessible(true)
            val m = f.get(module).asInstanceOf[java.util.Map[_, _]]
            val n = m.size
            m.clear()
            n
          }.sum
      } catch { case _: ClassNotFoundException => 0 }
    }.sum
  }
}

object Main {
  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val jvmStartEpochMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o)
    val trace = new Trace(spark, o.traced)
    val sessionReadyEpochMs = trace.originEpochMs
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val tally = if (o.traced) Some(new StageTally) else None
    tally.foreach(spark.sparkContext.addSparkListener)
    val plans = if (o.traced) Some(new LastPlan) else None
    plans.foreach(spark.listenerManager.register)
    val ctx = new Ctx(spark, o, trace, plans, progress)
    val phases: Seq[Workload] = o.workload match {
      case "ingest_steady" => Seq(new IngestSteady)
      case "batch_mix" => Seq(new QueryMix, new NlpBatch)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // A phase that throws is recorded as a failed check; the others still run.
    def each(step: String, parent: Span)(f: (Workload, Span) => Unit): Unit =
      for (w <- phases if !trace.attempt(w.name, "phase", parent)(s => f(w, s)))
        ctx.check(s"${w.name}.$step", ok = false,
          trace.all.find(s => s.name == w.name && s.parent == parent.id).fold("")(_.error))
    var sentinelStartMs = 0.0
    trace.span(s"workload:${o.workload}", "run") { root =>
      trace.span("setup", "setup", root)(s => each("setup", s)(_.setup(ctx, _)))
      sentinelStartMs = trace.nowMs
      ctx.sentinel(root)
      trace.span("measure", "measure", root, counted = true)(s => each("measure", s)(_.measure(ctx, _)))
      ctx.sentinel(root)
      if (o.traced) trace.span("probe", "probe", root)(s => each("probe", s)(_.probe(ctx, _)))
      trace.span("verify", "verify", root)(s => each("verify", s)(_.verify(ctx, _)))
    }
    ctx.drain()
    val spans = trace.all.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "ok" -> s.ok, "error" -> s.error,
        "attrs" -> s.attrs.toMap, "before" -> s.before, "after" -> s.after,
        "spark" -> tally.flatMap(_.get(s.id)).map(_.toMap).getOrElse(Map.empty))
    }
    val result = Map(
      "workload" -> o.workload, "seed" -> o.seed, "traced" -> o.traced, "cpus" -> o.cpus,
      "trace_id" -> trace.id,
      "jvm_start_epoch_ms" -> jvmStartEpochMs,
      "session_ready_epoch_ms" -> sessionReadyEpochMs,
      "first_timed_op_epoch_ms" -> trace.epochMs(sentinelStartMs),
      "peak_rss_kb" -> Host.peakRssKb(),
      "result_epoch_ms" -> System.currentTimeMillis(),
      "spans" -> spans, "checks" -> ctx.checks.toSeq, "records" -> ctx.records.toMap)
    Json.write(o.out, result)
    spark.stop()
  }
}

object Json {
  private lazy val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m.enable(com.fasterxml.jackson.databind.SerializationFeature.INDENT_OUTPUT)
    m.enable(com.fasterxml.jackson.databind.SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS)
    m
  }
  def write(path: String, value: Any): Unit =
    mapper.writeValue(new java.io.File(path), value)
  def read(path: String): Map[String, Any] =
    mapper.readValue(new java.io.File(path), classOf[Map[String, Any]])
}
