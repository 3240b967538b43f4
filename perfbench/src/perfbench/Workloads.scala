package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.streaming.QueuePipeline.{decodeComments, decodePosts, dedupByKey, idempotentAppend}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

object Inputs {
  def list(dir: String, suffix: String): Seq[String] =
    if (!Files.isDirectory(Paths.get(dir))) Nil
    else Files.list(Paths.get(dir)).iterator().asScala.map(_.toString)
      .filter(_.endsWith(suffix)).toSeq.sorted

  def manifest(inputs: String): Map[String, Any] = Json.read(s"$inputs/manifest.json")
}

/** Queue → decode → RocksDB dedup → idempotent parquet sink, at steady
  * state: a fixed number of queue files per trigger, each trigger starting
  * once the previous one committed (closed loop, one stream). */
final class IngestSteady extends Workload {
  val name = "ingest_steady"
  private def sink(ctx: Ctx) = s"${ctx.opts.work}/ingest/posts"

  /** One micro-batch. A traced run materialises the decoded, deduplicated
    * batch before the sink call, so decode+dedup and the sink's own work
    * are timed apart; otherwise the sink call pulls the batch through. */
  private def batch(ctx: Ctx, b: DataFrame, id: Long, sinkPath: String, parent: Span): Unit =
    ctx.trace.span("batch", "op", parent) { s =>
      s.attrs("batch_id") = id
      if (ctx.opts.traced) {
        ctx.trace.span("decode_dedup", "streaming", s) { d => b.persist(); d.attrs("rows") = b.count() }
        try ctx.trace.span("sink_append", "streaming.sink", s)(_ => idempotentAppend(b, "id", sinkPath))
        finally b.unpersist()
        s.attrs("sink_files") = Inputs.list(sinkPath, ".parquet").size
      } else ctx.trace.span("sink_append", "streaming.sink", s)(_ => idempotentAppend(b, "id", sinkPath))
    }

  /** No warm-up: the first micro-batch carries the stream's start-up, and
    * the steady-state rate is taken over the batches after it. */
  def setup(ctx: Ctx, parent: Span): Unit = ()

  /** Drains the whole queue under AvailableNow, `per_trigger` files a batch. */
  def measure(ctx: Ctx, parent: Span): Unit = {
    val spark = ctx.spark
    val runId = ctx.trace.span("drain", "streaming", parent) { drain =>
      val q = dedupByKey(
          decodePosts(spark.readStream
            .option("maxFilesPerTrigger", ctx.opts.size("per_trigger").toLong)
            .text(s"${ctx.opts.inputs}/queue")),
          "id", "created_utc")
        .writeStream
        .option("checkpointLocation", s"${ctx.opts.work}/ingest/ckpt")
        .foreachBatch { (b: DataFrame, id: Long) => batch(ctx, b, id, sink(ctx), drain) }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.runId.toString
    }
    Trace.drainListenerBus(spark)
    ctx.records("progress") = ctx.progress.forRun(runId)
  }

  def verify(ctx: Ctx, parent: Span): Unit = {
    val expected = Inputs.manifest(ctx.opts.inputs)("docs").toString.toLong
    val row = ctx.spark.read.parquet(sink(ctx)).agg(count(lit(1)), count_distinct(col("id"))).head()
    val (n, ids) = (row.getLong(0), row.getLong(1))
    ctx.check("landed_rows_equal_distinct_docs", n == expected, s"landed=$n docs=$expected")
    ctx.check("no_id_landed_twice", ids == n, s"distinct_ids=$ids landed=$n")
  }
}

/** Batch NLP over what an ingest landed: RedditProcessor.analyze, then
  * its `topics` output materialised through the noop sink. */
final class NlpBatch extends Workload {
  val name = "nlp_batch"
  private def posts(ctx: Ctx) = s"${ctx.opts.work}/nlp/posts"
  private def comments(ctx: Ctx) = s"${ctx.opts.work}/nlp/comments"

  def setup(ctx: Ctx, parent: Span): Unit = {
    val spark = ctx.spark
    ctx.trace.span("land", "setup", parent) { _ =>
      for (f <- Inputs.list(s"${ctx.opts.inputs}/posts", ".json"))
        idempotentAppend(decodePosts(spark.read.text(f)), "id", posts(ctx))
      for (f <- Inputs.list(s"${ctx.opts.inputs}/comments", ".json"))
        idempotentAppend(decodeComments(spark.read.text(f)), "c_id", comments(ctx))
    }
  }

  /** What the checks read: the analysis output's columns and the
    * observation of the topics write. */
  private var outputs: Option[(Seq[String], Observation)] = None

  /** One timed operation: the analyze call (its TF-IDF and LDA fits are
    * eager) and the noop write of `topics`. The `analysis` output is not
    * materialised: its row index (`GlobalIndex.withRowIndex`) loses and
    * repeats rows at this scale (README.md, "Known program defect"), and
    * no workload may contain an operation that fails. */
  def measure(ctx: Ctx, parent: Span): Unit = {
    val spark = ctx.spark
    val cleared = Hygiene.reset(spark)
    ctx.trace.attempt("nlp", "op", parent) { s =>
      s.attrs("memo_entries_cleared") = cleared
      val (analysis, topics) = ctx.trace.span("fit", "operators.RedditProcessor", s) { _ =>
        graft.operators.RedditProcessor.analyze(
          spark, spark.read.parquet(posts(ctx)), spark.read.parquet(comments(ctx)), "bench")
      }
      val to = new Observation("topics")
      ctx.trace.span("topics", "operators.RedditProcessor", s) { _ =>
        ctx.noop(topics.observe(to, collect_list(col("topic_name")).as("names")))
      }
      outputs = Some((analysis.columns.toSeq, to))
    }
  }

  /** Traced run only, after the measured phase: clean + VADER alone over
    * the landed corpus, and the vocabulary the TF-IDF stage sees (terms in
    * at least 2 docs, at most 95% of them, as RedditProcessor sets it). */
  override def probe(ctx: Ctx, parent: Span): Unit = {
    val spark = ctx.spark
    Hygiene.reset(spark)
    val text = spark.read.parquet(posts(ctx))
      .select(concat_ws(" ", coalesce(col("title"), lit("")), coalesce(col("selftext"), lit(""))).as("text"))
      .unionByName(spark.read.parquet(comments(ctx)).select(col("body").as("text")))
      .select(graft.functions.TextClean.clean(col("text")).as("text"))
    ctx.trace.span("featurize", "functions", parent) { _ =>
      graft.plans.VaderExpr.register(spark)
      ctx.noop(text.withColumn("s", graft.plans.VaderExpr.vaderCompound(col("text"))))
    }
    ctx.trace.span("vocab", "functions", parent) { s =>
      import org.apache.spark.ml.feature.{CountVectorizer, StopWordsRemover, Tokenizer}
      val toks = new StopWordsRemover().setInputCol("raw").setOutputCol("tokens")
        .transform(new Tokenizer().setInputCol("text").setOutputCol("raw").transform(text))
      s.attrs("vocab_size") = new CountVectorizer().setInputCol("tokens").setOutputCol("tf")
        .setMinDF(2.0).setMaxDF(0.95).fit(toks).vocabulary.length
    }
  }

  /** Checks the outputs of a completed NLP operation (a failed one already
    * counts as failed). */
  def verify(ctx: Ctx, parent: Span): Unit =
    for (op <- ctx.trace.all.find(_.name == "nlp") if op.ok; (cols, to) <- outputs) {
      val want = Seq("row_id", "batch_id") ++ (1 to 20).map(i => s"topic_$i")
      ctx.check("analysis_has_20_topic_columns", want.forall(cols.contains) &&
        cols.count(_.matches("topic_\\d+")) == 20, s"columns=${cols.mkString(",")}")
      val topics = to.get("names").asInstanceOf[scala.collection.Seq[String]]
      val words = topics.map(_.split(": ", 2).lift(1).fold(0)(_.split(" ").count(_.nonEmpty)))
      ctx.check("20_topics_of_10_words", topics.size == 20 && words.forall(_ == 10),
        s"topics=${topics.size} words=${words.mkString(",")}")
    }
}

/** SparkEntry.queries over the fixed tables, each once, cold, in name
  * order, materialised through noop. The mix is the set of queries that
  * pins.json holds: every query a ROADMAP open item names, plus
  * a10_unpivot. No NLP query (nlp_batch measures that path) and no second
  * consumer of Dedup's component-label memo is pinned. */
final class QueryMix extends Workload {
  val name = "query_mix"
  private var order: Seq[String] = Nil
  private val results = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Any]]
  private def pins(ctx: Ctx) =
    Json.read(ctx.opts.pins)("queries").asInstanceOf[Map[String, Map[String, Any]]]

  /** Name order, the same for every seed: the first queries of a run pay
    * the JVM's class loading and JIT, and a seeded order would move seconds
    * of that cost between queries from one seed to the next. */
  def setup(ctx: Ctx, parent: Span): Unit =
    order = pins(ctx).keys.toSeq.sorted

  /** Row count and an order-insensitive content hash (sum and xor of each
    * row's xxhash64), gathered while the timed write runs. */
  private def hashed(df: DataFrame, ob: Observation): DataFrame = {
    val h = xxhash64(df.columns.toSeq.map(c => df.col("`" + c.replace("`", "``") + "`")): _*)
    df.observe(ob, count(lit(1)).as("rows"), sum(pmod(h, lit(2147483647L))).as("hsum"),
      bit_xor(h).as("hxor"))
  }

  def measure(ctx: Ctx, parent: Span): Unit = {
    val spark = ctx.spark
    for ((name, i) <- order.zipWithIndex) {
      val cleared = Hygiene.reset(spark)
      val ob = new Observation(s"q$i")
      ctx.trace.attempt(name, "op", parent) { s =>
        s.attrs("memo_entries_cleared") = cleared
        val df = ctx.trace.span("build", "operators", s)(_ => ctx.battery(name)(spark, ctx.opts.tables))
        ctx.trace.span("exec", "operators.exec", s)(_ => ctx.noop(hashed(df, ob)))
        val m = ob.get
        results(name) = Map("rows" -> m("rows"), "hash" -> s"${m("hsum")}:${m("hxor")}")
        s.attrs ++= results(name)
        ctx.plans.foreach { p =>
          ctx.drain()
          p.take().foreach(qe => s.attrs("exchanges") = Plans.exchanges(qe.executedPlan))
        }
      }
    }
  }

  def verify(ctx: Ctx, parent: Span): Unit = {
    val want = pins(ctx)
    for (name <- order) {
      val got = results.get(name)
      val ok = got.exists(g => g("rows").toString == want(name)("rows").toString && g("hash") == want(name)("hash"))
      ctx.check(s"$name.matches_pin", ok, s"got=${got.getOrElse("failed")} pin=${want(name)}")
    }
  }
}
