package kgbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg._

/** The online half: an index built once with `Pipeline.run`, and one
  * table column of distinct cells drawn by seed from the mentions detected
  * in the pages. One client sends it in a closed loop; each request is a
  * `Linker.lookup` over the cells, then `Retrieval.getTypes`, `getObjects`
  * and `getLiterals` for the returned ids. */
final class Lookup(spark: SparkSession, pages: DataFrame, dump: DataFrame,
                   gold: DataFrame, work: String, seed: Long, cells: Int) {
  import spark.implicits._

  private val cfg = LinkerConfig(limit = 100, fuzzy = true)

  /** The KG side of the pipeline: a run over the dump with no pages
    * builds and commits every index table (lamAPI's offline ingestion). */
  val builtFromMs: Double = Clock.nowMs
  private val built = Pipeline.run(spark, pages.limit(0), dump, work)
  val builtToMs: Double = Clock.nowMs

  def lineageSums: Map[String, (Long, Long)] = Bench.lineage(spark, work)

  /** Every optional index field precomputed once, as `Pipeline.run` does
    * for its own links stage: a service would not derive them per request. */
  val index: NameIndexTables = {
    spark.sparkContext.setJobDescription("kgbench:index")
    val names = built.names
    val postingsPair = spark.read.parquet(new Path(work, "postings_pair").toString)
      .localCheckpoint(eager = true)
    val tokenStats = NameIndex.tokenStats(built.postings).localCheckpoint(eager = true)
    val nRows = names.count()
    val typeNames = built.items.filter(col("kind") === "type")
      .select(col("entity"), col("labels")("en").as("name"))
      .filter(col("name").isNotNull).localCheckpoint(eager = true)
    NameIndexTables(names, built.postings, built.postings3g, Some(postingsPair),
      Some(typeNames), Some(NameIndex.maxPopularity(built.items)),
      tokenStats = Some(tokenStats),
      pairStats = Some(NameIndex.pairStats(postingsPair).localCheckpoint(eager = true)),
      idfMaps = Some(NameIndex.idfMaps(names, tokenStats, nRows).localCheckpoint(eager = true)),
      nameRowCount = Some(nRows),
      hotTokens = Some(tokenStats.filter(col("df") >= cfg.hotTokenDf)
        .select("token").as[String].collect().toSet))
  }

  /** Distinct normalized mentions with the gold QIDs of their surfaces
    * (empty for decoys and unlinkable text). */
  private val pool: Vector[(String, Set[String])] = {
    spark.sparkContext.setJobDescription("kgbench:cells")
    val mentions = DetectMentions.mentions(
      pages.withColumn("extracted_text", ExtractText.extract(col("html"))), "extracted_text")
    val byNorm = mentions.select("url", "surface", "mention_norm")
      .join(gold.select("url", "surface", "qid"), Seq("url", "surface"), "left")
      .groupBy("mention_norm").agg(collect_set(col("qid")).as("qids"))
      .filter(col("mention_norm") =!= "")
      .as[(String, Seq[String])].collect()
    byNorm.map { case (m, q) => m -> q.toSet }.sortBy(_._1).toVector
  }

  /** A systematic sample of the pool ordered by token count and by
    * whether the cell has a gold QID, so every seed's column has the
    * pool's mix of short and long, linkable and decoy cells. */
  private val column: Vector[(String, Set[String])] = {
    val r = new scala.util.Random(seed * 7919L + 17L)
    val ordered = r.shuffle(pool).sortBy { case (m, g) => (m.count(_ == ' '), g.isEmpty) }
    val step = ordered.size.toDouble / cells
    val offset = r.nextDouble() * step
    (0 until math.min(cells, ordered.size)).map(i => ordered((offset + i * step).toInt)).toVector
  }

  def cellsPerRequest: Long = column.size.toLong
  var lastError = ""
  private var firstHits: Option[Set[String]] = None
  private var hits = 0L
  private var goldCells = 0L

  /** Serve one request. Returns whether the output checks passed: rows
    * came back, and the gold hits equal those of the first request. */
  def request(tr: Tracer): Boolean = {
    val cellsDf = column.map(_._1).toDF("cell")
      .select(graft.core.Text.cleanStr(col("cell")).as("mention_norm"))
    val df = tr("lookup.build") { Linker.lookup(spark, cellsDf, index, cfg) }
    tr("lookup.plan") { df.queryExecution.executedPlan }
    val rows = tr("lookup.exec") { df.collect() }
    val ids = rows.map(_.getAs[String]("id")).distinct.toSeq
    tr("retrieval.fetch") {
      val idsDf = ids.toDF("entity")
      Retrieval.getTypes(built.items, idsDf).collect()
      Retrieval.getObjects(built.objects, idsDf).collect()
      Retrieval.getLiterals(built.literals, idsDf).collect()
    }
    val found = rows.groupBy(_.getAs[String]("mention_norm"))
      .map { case (m, rs) => m -> rs.map(_.getAs[String]("id")).toSet }
    val withGold = column.filter(_._2.nonEmpty)
    val hit = withGold.collect {
      case (m, g) if found.getOrElse(m, Set.empty).exists(g) => m }.toSet
    hits += hit.size
    goldCells += withGold.size
    if (rows.isEmpty) { lastError = "a request returned no rows"; false }
    else firstHits match {
      case None => firstHits = Some(hit); true
      case Some(h) if h == hit => true
      case Some(h) =>
        lastError = s"gold hits changed between requests: ${h.size} then ${hit.size}"
        false
    }
  }

  def report(out: Json): Unit = {
    out.put("lookup_hits", hits)
    out.put("lookup_gold_cells", goldCells)
  }
}
