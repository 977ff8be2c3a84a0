package graft.streaming

import graft.ext.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming ANN: probe a persisted IVF index ([[Similarity.buildIvfIndex]]
  * / [[Similarity.ivfAppend]]) with a STREAM of query vectors — the
  * serving face of the index lifecycle (build once → append as the corpus
  * grows → probe continuously).
  *
  * Scoring is stateless: a query row explodes to its nProbe nearest
  * lists (the centroid matrix is a literal, ≤ nLists·dims doubles),
  * equi-joins the static corpus on `list`, and scores row-locally. The
  * per-query top-k is a grouped aggregate; a query's probe rows all live
  * in its arrival micro-batch, so run the sink in UPDATE mode and each
  * query's final answer is emitted once, when its batch completes
  * (production streams bound the group state with an ingest-time
  * watermark). Unlike the batch probe, the corpus scan cannot statically
  * prune to the probed lists (they depend on the batch's queries), so
  * serving deployments keep the corpus cached; the probe JOIN still
  * touches only matching lists' rows.
  */
object StreamingAnn {

  /** Probe the index with streaming queries: emits (query_id, rank,
    * candidate_id, cosine), top-k per query. The cosine is the expression
    * [[Similarity.ivfProbeIndex]] scores with, and candidates rank by
    * ascending (1 − cosine, candidate_id), which is the batch order for
    * finite cosines. It is not the batch order for the others: here a
    * NULL cosine (null element, other width) ranks first and a NaN one
    * last, where the batch probe ranks NaN first and NULL last. The
    * query id is cast to long. */
  def ivfProbeStream(spark: SparkSession, queries: DataFrame,
      idCol: String, vecCol: String, indexPath: String, k: Int,
      nProbe: Int = 4): DataFrame = {
    val cents = Similarity.loadIvfCentroids(spark, indexPath)
    val corpus = Similarity.readIvfCorpus(spark, indexPath)
    val qProbes = queries
      .select(col(idCol).cast("long").as("query_id"),
        transform(col(vecCol), x => x.cast("double")).as("qvec"))
      .select(col("query_id"), col("qvec"),
        Similarity.norm(col("qvec")).as("_qn"),
        explode(Similarity.nearestLists(col("qvec"), cents, nProbe)).as("list"))
    val scored = qProbes.join(corpus, Seq("list"))
      .where(corpus(idCol) =!= col("query_id"))
      .select(col("query_id"), corpus(idCol).as("candidate_id"),
        round(Similarity.dot(col("qvec"), corpus(vecCol)) /
          (col("_qn") * corpus("_n")), Similarity.RoundScale).as("cosine"))
    // per-query top-k WITHIN the micro-batch: sort+rank over a streaming
    // frame needs an aggregation surface — collect each query's scored
    // candidates and rank row-locally (bounded: candidates per query ≈
    // corpus/nLists·nProbe rows reduced to k)
    scored.groupBy(col("query_id"))
      .agg(slice(array_sort(collect_list(struct(
          (lit(1.0) - col("cosine")).as("negCos"), col("candidate_id"))),
        ), 1, k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col.candidate_id").as("candidate_id"),
        round(lit(1.0) - col("col.negCos"), Similarity.RoundScale)
          .as("cosine"))
  }
}
