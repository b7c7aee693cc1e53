package perfbench

import scala.util.control.NonFatal

import graft.SparkEntry
import graft.ext.dedup.NearDup
import graft.tools.Force
import org.apache.spark.sql.SparkSession

/** The curation workload: registry queries over a generated corpus,
  * each forced with `tools.Force.rows`. */
final class Curation(spark: SparkSession) {

  import Curation._

  /** One run over a corpus directory: per query its wall time and row
    * count, or None when it threw. Traced, each query is a span of its
    * layer, split into the registry call (construction, including eager
    * training and caching jobs) and the forcing. */
  def run(dir: String, tracer: Option[Tracer] = None): Seq[(String, Double, Option[Long])] =
    Queries.map { case (name, layer) =>
      def span[T](part: String)(body: => T): T =
        tracer.fold(body)(_.span(layer, part)(body))
      val t0 = System.nanoTime()
      val n =
        try span(name) {
          val df = span(s"$name.construct") { SparkEntry.queries(name)(spark, dir) }
          Some(span(s"$name.force") { Force.rows(df) })
        } catch { case NonFatal(e) => System.err.println(s"$name failed: $e"); None }
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      (name, wall, n)
    }

  /** Candidate mass of the MinHash miner on the corpus, with the
    * parameters `docs_minhash_pairs` uses. */
  def minhashStats(dir: String): Map[String, Double] = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val (_, stats) = NearDup.minhashPairsWithStats(docs, "doc_id", "text",
      shingleSize = 2, bands = 16, rowsPerBand = 4, threshold = 0.5)
    spark.catalog.clearCache()
    Map("candidates" -> stats.candidates.toDouble,
      "survivor_ratio" -> (if (stats.candidates == 0) 0.0 else stats.survivors.toDouble / stats.candidates))
  }

  /** Write every query's result for the oracle comparison. */
  def dump(dir: String, out: String): Unit =
    Queries.foreach { case (name, _) =>
      SparkEntry.queries(name)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      spark.catalog.clearCache()
    }
}

object Curation {
  /** The measured queries and the layer each one exercises. */
  val Queries: Seq[(String, String)] = Seq(
    "docs_minhash_pairs" -> "ext.dedup",
    "emb_semantic_dedup" -> "ext.dedup",
    "docs_decontaminate_cross" -> "ext.text",
    "docs_embed_knn" -> "ext.similarity")
}
