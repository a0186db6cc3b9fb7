package kgbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.KgBenchBus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import graft.kg._

/** One benchmark run: set up, then a timed window of operations against
  * the engine's public entry points. Writes the raw measurements as one
  * JSON document; `run.py` turns them into metrics.
  *
  * Arguments are `--key value` pairs; `run.py` passes the workload sizes
  * and the session config (every `spark.*` key) from `config.json`. */
object Main {

  final case class Args(m: Map[String, String]) {
    def s(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def i(k: String): Int = s(k).toInt
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val out = new Json
    val bench = new Bench(a, out)
    try bench.run()
    finally bench.close()
    val w = new java.io.PrintWriter(new File(a.s("out")), "UTF-8")
    try w.write(out.render()) finally w.close()
  }
}

object Bench {
  /** Per-stage sums of a work directory's `_lineage` rows:
    * (output rows, xor of the partition checksums). */
  def lineage(spark: SparkSession, work: String): Map[String, (Long, Long)] = {
    spark.sparkContext.setJobDescription("kgbench:check")
    spark.read.parquet(s"$work/_lineage").groupBy("stage")
      .agg(sum("output_rows"), bit_xor(col("checksum")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
  }
}

final class Bench(a: Main.Args, out: Json) {
  private val workload = a.s("workload")
  private val seed = a.s("seed").toLong
  private val seconds = a.s("seconds").toDouble
  private val traced = a.s("trace") == "1"
  private val root = new File(a.s("work")).getAbsoluteFile
  private val tracer = new Tracer(traced)
  private val off = new Tracer(false)
  private var listener: JobListener = _
  private var spark: SparkSession = _
  private var workSeq = 0

  private val nPages = a.i("pages")
  private val nEntities = a.i("entities")
  private var pagesDf: DataFrame = _
  private var dumpDf: DataFrame = _
  private var goldDf: DataFrame = _
  private var lookup: Lookup = _

  private final case class Op(ms: Double, units: Long, ok: Boolean, startMs: Double,
                              endMs: Double)

  private val failures = mutable.ArrayBuffer.empty[String]

  private def fail(msg: String): Boolean = {
    if (failures.size < 20) failures += msg
    false
  }

  private def freshDir(tag: String): String = {
    workSeq += 1
    new File(root, s"$tag-$workSeq").getPath
  }

  private def rm(path: String): Unit =
    scala.reflect.io.Directory(new File(path)).deleteRecursively()

  private def tag(d: String): Unit = spark.sparkContext.setJobDescription(d)

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ------------------------------------------------------------ set-up

  private def session(): SparkSession = {
    val b = SparkSession.builder()
      .appName(s"kgbench-$workload")
      .config("spark.local.dir", new File(root, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(root, "warehouse").getPath)
    a.m.foreach { case (k, v) => if (k.startsWith("spark.")) b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One set-up repetition: start the session, generate the workload's
    * inputs from the seed and store them as Parquet. */
  private def setUp(): Unit = {
    spark = session()
    val inputs = freshDir("inputs")
    tag("kgbench:inputs")
    val sp = spark
    import sp.implicits._
    val withGold = Fixtures.pagesWithGold(spark, nPages, nEntities, seed).cache()
    withGold.map(_.page).toDF().write.parquet(s"$inputs/pages")
    goldDf = withGold.flatMap(_.gold).toDF().cache()
    goldDf.count()
    withGold.unpersist()
    Fixtures.dumpLines(spark, nEntities, seed).write.parquet(s"$inputs/dump")
    pagesDf = spark.read.parquet(s"$inputs/pages")
    dumpDf = spark.read.parquet(s"$inputs/dump")
  }

  private def tearDown(): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  // ------------------------------------------------------------ checks

  /** Link precision / recall against the generator's gold links after
    * canonicalization: the definition PipelineSpec uses. */
  private def quality(o: Pipeline.StageOutputs): Map[String, Double] = {
    tag("kgbench:check")
    val gold = Triples.canonicalize(goldDf, o.canon, "qid").select("url", "qid").distinct()
    val pred = o.pageLinks.select("url", "qid").distinct()
    val tp = pred.join(gold, Seq("url", "qid")).count().toDouble
    Map("link_precision" -> tp / math.max(1L, pred.count()),
      "link_recall" -> tp / math.max(1L, gold.count()))
  }

  /** Stages whose committed Parquet does not hash to its lineage rows:
    * the row count and the order-insensitive xor of row hashes are
    * recomputed from the committed output, hashed as Pipeline hashes it. */
  private def lineageMismatches(work: String, lin: Map[String, (Long, Long)]): Seq[String] = {
    val perStage = lin.keys.toSeq.sorted.map { stage =>
      val df = spark.read.parquet(s"$work/$stage")
      val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
        f.dataType match {
          case _: MapType => array_sort(map_entries(col(f.name)))
          case _ => col(f.name)
        }
      }
      df.agg(lit(stage), count(lit(1)), coalesce(bit_xor(xxhash64(struct(cols: _*))), lit(0L)))
    }
    val committed = perStage.reduce(_ union _).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    lin.toSeq.sortBy(_._1).collect { case (stage, l) if committed.get(stage) != Some(l) =>
      s"$stage: lineage $l vs committed ${committed.get(stage)}" }
  }

  private var qualitySeen = Map.empty[String, Double]

  // -------------------------------------------------------- operations

  /** One full `Pipeline.run` into a fresh work directory plus a triples
    * count, then its output checks. */
  private def pipelineOp(tr: Tracer): Op = {
    val work = freshDir("work")
    spark.sparkContext.setJobDescription(null)
    val t0 = System.nanoTime()
    val outp = tr("pipeline") {
      val o = tr("pipeline.run") { Pipeline.run(spark, pagesDf, dumpDf, work) }
      tag("kgbench:count")
      tr("pipeline.count") { o.triples.count() }
      o
    }
    val t1 = System.nanoTime()
    val op = Op((t1 - t0) / 1e6, nPages.toLong, ok = true, Clock.ms(t0), Clock.ms(t1))
    val q = quality(outp)
    qualitySeen = q
    val lin = Bench.lineage(spark, work)
    val bad = q.collect { case (k, v) if v < 0.95 => f"$k $v%.4f < 0.95" } ++
      lineageMismatches(work, lin)
    bad.foreach(fail)
    if (tr.enabled) traceOp(op.startMs, op.endMs, lin, Some(work))
    rm(work)
    op.copy(ok = bad.isEmpty)
  }

  private def requestOp(tr: Tracer): Op = {
    val t0 = System.nanoTime()
    val ok = tr("request") { lookup.request(tr) }
    val t1 = System.nanoTime()
    val op = Op((t1 - t0) / 1e6, lookup.cellsPerRequest, ok || fail(lookup.lastError),
      Clock.ms(t0), Clock.ms(t1))
    if (tr.enabled) traceOp(op.startMs, op.endMs, Map.empty, None)
    op
  }

  // ------------------------------------------------------------ trace

  /** Listener jobs started inside one traced window, each with its tasks
    * as [launch, stage submit, duration, gc, shuffle bytes written]
    * (epoch ms, ms, bytes), the task time of every task launched in the
    * window, the lineage row sums and (link_pages) the linker funnel. */
  private def traceOp(fromMs: Double, toMs: Double, lin: Map[String, (Long, Long)],
                      work: Option[String]): Unit = {
    KgBenchBus.drain(spark.sparkContext)
    val (jobs, byJob, submit, inWindow) = listener.window(fromMs, toMs)
    val j = new Json
    j.put("start_ms", fromMs)
    j.put("end_ms", toMs)
    j.put("jobs", jobs.map { jr =>
      Json.obj("id" -> jr.id, "desc" -> jr.desc, "start" -> jr.start, "end" -> jr.end,
        "tasks" -> byJob.getOrElse(jr.id, Nil).map(t => Seq(t.launch,
          submit.getOrElse(t.stageId, t.launch), t.durMs, t.gcMs, t.shuffleBytes))) })
    j.put("window_task_ms", inWindow.map(_.durMs).sum)
    j.put("rows_out", lin.map { case (k, (n, _)) => k -> n })
    work.foreach(w => if (workload == "link_pages") j.put("funnel", funnel(w)))
    out.append("op_trace", j)
  }

  /** The linker's candidate funnel through its public steps, over the
    * committed inputs of the operation just traced. */
  private def funnel(work: String): Json = tracer("linker.funnel") {
    tag("kgbench:funnel")
    // the configuration Pipeline.run links with
    val cfg = LinkerConfig(limit = 32, fuzzy = true, cutByRelevance = true,
      computeAmbiguity = false, minShouldMatch = true)
    def read(s: String) = spark.read.parquet(s"$work/$s")
    val names = read("names")
    val postings = read("postings")
    val nRows = names.count()
    val tokenDf = NameIndex.tokenStats(postings).cache()
    val commonDf = math.max(64L, (nRows * 0.005).toLong)
    val md = tracer("linker.distinctMentions") {
      Linker.distinctMentions(read("mentions")).cache() }
    val nMentions = md.count()
    val exact = tracer("linker.exactTokenMatches") {
      Linker.exactTokenMatches(spark, md, postings, tokenDf, commonDf, cfg).cache() }
    val nExact = exact.count()
    val nFuzzy = tracer("linker.fuzzyExpansions") {
      Linker.fuzzyExpansions(md, read("postings3g"), tokenDf, cfg).count() }
    val idf = tokenDf.select(col("token"),
      log(lit(1.0) + lit(nRows.toDouble) / col("df")).as("idf"))
    val nCand = tracer("linker.candidateRows") {
      Linker.candidateRows(exact, names, idf).count() }
    val items = read("items")
    val idx = NameIndexTables(names, postings, read("postings3g"), Some(read("postings_pair")),
      Some(items.filter(col("kind") === "type")
        .select(col("entity"), col("labels")("en").as("name")).filter(col("name").isNotNull)),
      Some(NameIndex.maxPopularity(items)))
    val nLinks = tracer("linker.linkTop1") {
      Linker.linkTop1(spark, read("mentions"), idx, cfg, 1.2).count() }
    Seq(md, exact, tokenDf).foreach(_.unpersist())
    Json.obj("mentions_distinct" -> nMentions, "exact_matches" -> nExact,
      "fuzzy_expansions" -> nFuzzy, "candidates" -> nCand, "links" -> nLinks)
  }

  // ------------------------------------------------------------ run

  def run(): Unit = {
    // set-up repetitions; the last one's session is the one measured
    val reps = a.i("setup_reps")
    out.put("setup_s", (1 to reps).map { r =>
      val t0 = System.nanoTime()
      setUp()
      if (r < reps) tearDown()
      secondsSince(t0)
    })
    if (traced) {
      listener = new JobListener
      spark.sparkContext.addSparkListener(listener)
    }
    if (workload == "lookup_api") {
      val t0 = System.nanoTime()
      lookup = tracer("index.build") {
        new Lookup(spark, pagesDf, dumpDf, goldDf, freshDir("index"), seed, a.i("cells"))
      }
      out.put("index_build_s", secondsSince(t0))
      if (traced) traceOp(lookup.builtFromMs, lookup.builtToMs, lookup.lineageSums, None)
    }

    val comp = ManagementFactory.getCompilationMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcs.map(_.getCollectionTime).sum
    val jit0 = comp.getTotalCompilationTime
    val gc0 = gcMs
    val ops = mutable.ArrayBuffer.empty[Op]
    val busy0 = if (traced) listener.busyNs else 0L
    val w0 = System.nanoTime()
    val deadline = w0 + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline || ops.isEmpty) {
      val tr = if (traced) tracer else off
      ops += (if (workload == "lookup_api") requestOp(tr) else pipelineOp(tr))
    }
    out.put("window_s", secondsSince(w0))
    if (traced) out.put("listener_ms", (listener.busyNs - busy0) / 1e6)
    out.put("jit_ms", comp.getTotalCompilationTime - jit0)
    out.put("gc_ms", gcMs - gc0)
    out.put("ops", ops.map(o => Json.obj("ms" -> o.ms, "units" -> o.units, "ok" -> o.ok)))
    out.put("failures", failures.toSeq)
    out.put("quality", qualitySeen)
    if (lookup != null) lookup.report(out)
    if (traced) out.put("spans", tracer.spans.map(s => Json.obj("id" -> s.id,
      "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    out.put("peak_rss_kb", peakRssKb())
  }

  private def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }

  def close(): Unit = {
    if (spark != null) spark.stop()
    rm(root.getPath)
  }
}
