package graft.bench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Cli.HybridResult
import graft.api.RuleBasedSelfQuery
import graft.embedding.OfflineEmbedder
import graft.search.{FusionFloor, FusionGate, Hnsw, LexIndex}

/** `Cli.hybridSearchCommand` split into one span per layer step, for the
  * traced run. It covers the artifact set the benchmark builds (lex
  * postings, flat HNSW, stamped floor) and refuses any other, so the
  * composition cannot drift onto a route the command would not take; the
  * traced run checks its hits against the command's on every query.
  */
object TracedServe {

  /** The serve's result and the lexical route `scoreTopCPath` took. */
  final case class Traced(result: HybridResult, lexRoute: String)

  def serve(spark: SparkSession, tr: Tracer, req: String, tablesDir: String,
      query: String, topK: Int, view: Option[String], c: Int = 30): Traced = {
    import spark.implicits._
    val hnswPath = s"$tablesDir/embeddings_hnsw"
    require(LexIndex.exists(tablesDir) &&
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(hnswPath)) &&
      !java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$tablesDir/embeddings_hnsw_routed")),
      s"$tablesDir: the traced serve covers lex postings + flat HNSW only")

    // the benchmark never passes `lang`, so the command always extracts
    // hints: an explicit view wins, the language comes from the text
    val (effView, effLang) = tr.span("api.self_query", req) {
      val hints = RuleBasedSelfQuery.extract(query)
      (view.orElse(hints.view), hints.lang)
    }
    val floorPath = s"$tablesDir/fusion_floor.txt"
    val (art, eligibleIds) = tr.span("search.floor_fresh", req) {
      require(FusionFloor.exists(floorPath), s"no fusion floor at $floorPath")
      val frags = spark.read.parquet(s"$tablesDir/fragments")
      val eligible =
        if (effView.isEmpty && effLang.isEmpty) None
        else Some(Seq(
          effView.map(v => col("view") === v),
          effLang.map(l => col("language") === l))
          .flatten.foldLeft(frags)((df, p) => df.filter(p))
          .select(col("id").cast("string").as("id")))
      val a = FusionFloor.load(floorPath)
      FusionFloor.requireFreshAt(a, s"$tablesDir/fragments", floorPath)(
        FusionFloor.currentFp(frags, "id", "content"))
      (a, eligible)
    }
    val qTerms = query.trim.split("[ \\t\\n\\f\\r]+")
      .filter(_.nonEmpty).distinct.toSeq
    val lexSt = tr.span("search.lex_open", req) {
      val st = LexIndex.loadStats(tablesDir)
      LexIndex.requireFresh(st, tablesDir)
      st
    }
    val n = lexSt.n
    val avgdl = lexSt.sumDl.toDouble / n.toDouble
    val dfMap = tr.span("search.lex_df", req) {
      LexIndex.dfOf(spark, tablesDir, qTerms)
    }
    val inCorpus = qTerms.filter(t => dfMap.getOrElse(t, 0L) > 0L)
    val (lexScored, route) = tr.span("search.lex_score", req) {
      if (inCorpus.isEmpty) (Nil, "empty")
      else LexIndex.scoreTopCPath(spark, tablesDir, inCorpus, dfMap, n,
        avgdl, c, eligible = eligibleIds)
    }
    val (searchable, pred, qvec) = tr.span("search.dense_open", req) {
      val index = spark.read.parquet(hnswPath)
      val dim = index.select(col("vector")).head()
        .getAs[scala.collection.Seq[Float]](0).length
      val qv = new OfflineEmbedder(dim).embedQuery(query)
      val (s, p) = withViewPred(spark, tablesDir, index, effView, effLang)
      (s, p, qv)
    }
    val vecIds = tr.span("search.dense_walk", req) {
      Hnsw.searchIndex(searchable, Seq(("q", qvec)), c, 64, predicate = pred)
        .orderBy(col("rank"))
        .select(col("fragment_id")).as[String].collect().toSeq
    }
    tr.span("search.fuse", req) {
      val idfSum = inCorpus.map(t => FusionGate.idf(dfMap(t), n)).sum
      val conf = FusionGate.confidence(
        lexScored.headOption.map(_._2).getOrElse(0.0), idfSum)
      val wLex = FusionGate.lexWeight(conf, art.floor)
      Traced(HybridResult(conf, art.floor, wLex,
        FusionGate.fuseIds(lexScored.map(_._1), vecIds, wLex).take(topK)),
        route)
    }
  }

  private def withViewPred(spark: SparkSession, tablesDir: String,
      index: DataFrame, effView: Option[String], effLang: Option[String])
      : (DataFrame, Option[Column]) =
    if (effView.isEmpty && effLang.isEmpty) (index, None)
    else {
      val meta = spark.read.parquet(s"$tablesDir/embeddings")
        .select(col("fragment_id").as("__fid"),
          col("view").as("__view"), col("lang").as("__lang"))
      val pred = Seq(
        effView.map(v => col("__view") === v),
        effLang.map(l => col("__lang") === l))
        .flatten.reduce(_ && _)
      (index.join(meta, col("fragment_id") === col("__fid"), "left"),
        Some(pred))
    }
}
