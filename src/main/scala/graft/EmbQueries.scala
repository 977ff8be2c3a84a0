package graft

import graft.ext.{Dedup, Kmeans, Pin, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The embedding and vector-search queries (`emb_`, `multimodal_`).
  * Each entry pairs a declared query with its DuckDB oracle SQL; see
  * [[SparkEntry]]. */
object EmbQueries {
  import SparkEntry.{t, scratch, Artifact, SimhashCtes, CosinePairSelect,
    Query}

  /** Trained IVF centroids (emb_ivf_topk, emb_ivf_exhaustive): the
    * train-once / probe-per-rep shape of the persisted indexes. */
  private val ivfCentsFor = Artifact("ivfCents") { (s, dir) =>
    Similarity.learnCentroidArrays(t(s, dir, "embeddings"), "vec_id",
      "embedding", k = 16, iters = 3)
  }

  /** Per-list pruning radii (emb_ivf_topk's exact probe) — index
    * metadata derived once, like the centroids they bound. */
  private val ivfRadiiFor = Artifact("ivfRadii") { (s, dir) =>
    Similarity.listRadii(t(s, dir, "embeddings"), "embedding",
      ivfCentsFor(s, dir))
  }

  /** The IVF-PQ index probed by emb_ivfpq_topk and emb_ivfpq_rerank. */
  private val ivfPqIndexFor = Artifact("ivfPqIdx") { (s, dir) =>
    val p = scratch("ivfpq_idx", dir)
    Similarity.buildIvfPqIndex(t(s, dir, "embeddings"), "vec_id",
      "embedding", p, nLists = 16, m = 16, pqK = 64, iters = 2)
    p
  }

  /** The IVF RETRAIN-ON-DRIFT lifecycle (r15 VERDICT task 5): build an
    * index on the base embeddings, append a deterministically DRIFTED
    * wave (+3.0 on every dimension in double space — far from every
    * trained centroid, so its mass concentrates in whichever few lists
    * point that way), then [[Similarity.ivfRetrainDrifted]] re-clusters
    * ONLY the lists whose per-list mean distance crossed 1.5× the
    * index-wide mean. The requires pin the incremental contract at
    * build time: some lists drifted, NOT all (the untouched majority is
    * the point), and the retrain reduced the drifted set's mean
    * distance. The declared query probes the retrained index. */
  private val ivfDriftFor = Artifact("ivfDriftRetrain") { (s, dir) =>
    val p = scratch("ivf_drift", dir)
    val emb = t(s, dir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    Similarity.buildIvfIndex(emb, "vec_id", "embedding", p,
      nLists = 16, iters = 2)
    val shifted = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding").cast("array<double>"),
        x => x + lit(3.0d)).as("embedding"))
    Similarity.ivfAppend(s, p, shifted, "embedding")
    val rt = Similarity.ivfRetrainDrifted(s, p, "vec_id", "embedding",
      bound = 1.5, iters = 2)
    require(rt.drifted.nonEmpty, "no list crossed the drift bound")
    require(rt.drifted.length < rt.nLists,
      s"retrain must be incremental: ${rt.drifted.length}/${rt.nLists}")
    require(rt.meanDriftedAfter < rt.meanDriftedBefore,
      "retrain must reduce the drifted lists' mean distance")
    p
  }

  /** The oracle of multimodal_phash_pairs and multimodal_audio_fp_pairs:
    * the planted text twins (doc_id % 20 = 7, +1000000) are exactly the
    * content-equal pairs, at hamming 0. */
  private val PlantedTwinPairsOracle: String =
    """WITH d AS (SELECT doc_id, text FROM documents
      |           UNION ALL
      |           SELECT doc_id + 1000000, text FROM documents
      |           WHERE doc_id % 20 = 7),
      |t AS (SELECT doc_id, md5(text) AS m FROM d)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(0 AS BIGINT) AS hamming
      |FROM t a JOIN t b ON a.m = b.m AND a.doc_id < b.doc_id
      |ORDER BY 1, 2""".stripMargin

  private[graft] def queries: Seq[(String, (Query, String))] = Seq(

    // banded hyperplane-LSH similar pairs — the threshold-complete PAIRS
    // operator (vs emb_lsh_top_pairs' top-N cut), ORACLE-PINNED since r8
    // (r7 VERDICT next-round 3): bits sizes buckets (2^10 per band —
    // pick ≈ log2(n)+slack so occupancy stays O(1) at scale); bands buy
    // recall back via OR-amplification. The natural corpus is
    // near-orthogonal (max pair cosine 0.51 at sf0.01 / 0.60 at sf0.1),
    // so the >= 0.8 regime is populated by DETERMINISTIC PLANTED
    // DUPLICATES computed inside the query: every vec_id % 10 == 0 row
    // is copied under vec_id + 100000 (a DENSER plant than top_pairs'
    // % 25, exercising the unbounded all-pairs-above-threshold
    // semantics). Identical vectors collide in every band, so recovery
    // is probability-1, and the exact-cosine verify makes any natural
    // collision fail the >= 0.8 cut — the DuckDB oracle's exhaustive
    // scan therefore matches bit-for-bit: planted recovery AND zero
    // false positives, no recall margin. The low-threshold natural
    // regime (measured recall ≈ the banding formula's prediction) is
    // pinned in ExtSpec instead.
    "emb_lsh_pairs" -> (((s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = base.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      Similarity.lshBucketedPairs(base.unionByName(planted),
          "vec_id", "embedding", minCosine = 0.8, bits = 10, bands = 8)
    },
      // exhaustive thresholded top-N over the SAME planted corpus the
      // engine builds (id-offset exact copies of every vec_id % 25 == 0
      // row): the engine's LSH-pruned result is exact-verified, so it must
      // equal this set wherever the banding recall contract holds — and for
      // exact duplicates (the only pairs >= 0.8 on this near-orthogonal
      // fixture) recall is deterministic.
      // same plant construction as the engine query (vec_id % 10 == 0
      // copied under +100000) + an exhaustive >= 0.8 scan: only
      // identical-vector pairs reach 0.8 on this near-orthogonal corpus,
      // and those collide in every LSH band, so the sets match exactly
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |e AS (SELECT vec_id, v FROM base
        |      UNION ALL
        |      SELECT vec_id + 100000, v FROM base WHERE vec_id % 10 = 0),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(
        |      list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))]) /
        |      (sqrt(list_sum([a.v[i] * a.v[i] for i in generate_series(1, len(a.v))])) *
        |       sqrt(list_sum([b.v[i] * b.v[i] for i in generate_series(1, len(b.v))]))), 6) AS cosine
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.8
        |ORDER BY id_a, id_b""".stripMargin)),

    // SEMANTIC DEDUP (SemDeDup-style, Abbas et al. 2023): the keep
    // decision in EMBEDDING space — near-dup pairs are cosine >= 0.8
    // rather than textual n-gram overlap, resolved into connected
    // components by the same pointer-doubling label propagation the
    // text dedup ships, so keeper = min vec_id per semantic cluster.
    // Pair mining reuses the banded hyperplane-LSH path with the same
    // in-query planted duplicates as emb_lsh_pairs (identical vectors
    // collide in every band → probability-1 recovery; the exact-cosine
    // verify keeps natural near-orthogonal pairs out), so the pair
    // graph is deterministic and the recursive-CTE oracle reproduces
    // the exact clustering. Composite of two already-gated operators —
    // the embedding-space twin of doc_dedup_clusters.
    "emb_dedup_clusters" -> (((s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = base.where(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val pairs = Similarity.lshBucketedPairs(base.unionByName(planted),
          "vec_id", "embedding", minCosine = 0.8, bits = 10, bands = 8)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
      val cl = Dedup.dedupClusters(pairs, "doc_a", "doc_b")
      val sizes = cl.groupBy(col("root")).agg(count(lit(1)).as("cluster_size"))
      cl.join(sizes, "root")
        .select(col("doc").as("vec_id"), col("root"), col("cluster_size"))
    },
      // recursive-CTE transitive closure over the exhaustive cosine >= 0.8
      // pair graph (same plant as emb_lsh_pairs) — the embedding-space
      // twin of the doc_dedup_clusters oracle
      """WITH RECURSIVE base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |e AS (SELECT vec_id, v FROM base
        |      UNION ALL
        |      SELECT vec_id + 100000, v FROM base WHERE vec_id % 10 = 0),
        |p AS (
        |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE round(
        |      list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))]) /
        |      (sqrt(list_sum([a.v[i] * a.v[i] for i in generate_series(1, len(a.v))])) *
        |       sqrt(list_sum([b.v[i] * b.v[i] for i in generate_series(1, len(b.v))]))), 6) >= 0.8),
        |edges AS (SELECT doc_a AS x, doc_b AS y FROM p
        |          UNION SELECT doc_b, doc_a FROM p
        |          UNION SELECT doc_a, doc_a FROM p
        |          UNION SELECT doc_b, doc_b FROM p),
        |reach(x, y) AS (SELECT x, y FROM edges
        |  UNION SELECT r.x, e2.y FROM reach r JOIN edges e2 ON r.y = e2.x),
        |comp AS (SELECT x AS vec_id, min(y) AS root FROM reach GROUP BY x),
        |sizes AS (SELECT root, COUNT(*) AS cluster_size FROM comp GROUP BY root)
        |SELECT c.vec_id, c.root, s.cluster_size
        |FROM comp c JOIN sizes s USING (root)
        |ORDER BY vec_id""".stripMargin)),

    // IVFADC+R probe over a persisted compressed index (rows-only:
    // IVF routing is approximate by construction). The ADC long-list
    // scans codes (+_rn), never float vectors — 1/16 of the corpus
    // bytes — statically pruned to the probed lists; the top-R
    // short-list is then re-ranked with the exact cosine against the
    // <= R·|queries| full-vector rows it names (id-pushdown read), so
    // quantization error no longer bounds recall (measured: re-rank
    // recall == the IVF routing ceiling at every setting). The residual
    // loss is ROUTING on this fixture's uniform-random near-orthogonal
    // vectors — ANN's statistically hardest case, where any sublinear
    // scan must trade recall — hence the honest 12/16 probed fraction
    // here (recall 0.975 at sf0.01); real clustered corpora route at
    // small fractions (ScaleSmoke ann1m: recall 1.0 at 3.1% scan).
    // Index built once per (session, sf dir) like the stream-dedup band
    // index. The declared output is GUARANTEED-EXACT (r9 VERDICT task 1):
    // stage 1 times the ordinary approximate IVFADC+R probe (nProbe =
    // 12/16, rerankR = 100), whose kth cosine then drives the
    // triangle-inequality + reconstruction-error bounds that admit every
    // point the probe could have missed (Similarity.ivfPqProbeExact), so
    // the result hash-matches a brute-force DuckDB oracle while the scan
    // stays codes-only and list-pruned wherever the corpus clusters.
    // Distinct query slice (vec_id 48..55) so the gate is not a literal
    // re-run of the other ANN anchors.
    "emb_ivfpq_topk" -> (((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") >= 48 && col("vec_id") < 56)
      val idx = ivfPqIndexFor(s, dir)
      Similarity.ivfPqProbeExact(s, idx, queries, "vec_id",
          "embedding", k = 5, nProbe = 12, rerankR = 100)
        .select(col("query_id"), col("rank"), col("candidate_id"), col("cosine"))
    },
      // the exact pruned IVFADC probe (list bound + per-point
      // reconstruction-error bound + exact rescore) likewise returns
      // brute-force top-k — brute-force oracle over the 48..55 slice
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (
        |$CosinePairSelect
        |  FROM e q JOIN e c ON q.vec_id >= 48 AND q.vec_id < 56 AND c.vec_id <> q.vec_id),
        |r AS (SELECT query_id, candidate_id, cosine,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, candidate_id) AS rank
        |      FROM s)
        |SELECT query_id, rank, candidate_id, cosine FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // IVFADC+R at EXHAUSTIVE routing (nProbe = nLists) — the oracle-pinned
    // correctness anchor for the whole PQ path: with every list probed and
    // a short-list covering the corpus, the re-rank stage's exact-cosine
    // rescore reproduces brute-force top-k BIT-FOR-BIT (ExtSpec pins the
    // set equality; the re-rank scoring is the same IEEE op sequence as
    // cosineTopK), so a brute-force DuckDB oracle hash-matches it. This
    // converts PQ correctness from rows-only to driver-gate green while
    // emb_ivfpq_topk above stays the honest TIMED approximate path
    // (nProbe < nLists). Distinct query slice (vec_id 16..23, k = 10) so
    // the gate is not a literal re-run of emb_cosine_topk.
    "emb_ivfpq_rerank" -> (((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") >= 16 && col("vec_id") < 24)
      val idx = ivfPqIndexFor(s, dir)
      Similarity.ivfPqProbeRerank(s, idx, queries, "vec_id",
          "embedding", k = 10, nProbe = 16, rerankR = 100000)
        .select(col("query_id"), col("rank"), col("candidate_id"), col("cosine"))
    },
      // exhaustive-routing IVFADC+R ≡ brute-force exact top-k (ExtSpec pins
      // the bit-for-bit set equality), so the oracle is brute force over the
      // same query slice — identical score formula and (cosine desc,
      // candidate) tie order as the engine's re-rank stage
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (
        |$CosinePairSelect
        |  FROM e q JOIN e c ON q.vec_id >= 16 AND q.vec_id < 24 AND c.vec_id <> q.vec_id),
        |r AS (SELECT query_id, candidate_id, cosine,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, candidate_id) AS rank
        |      FROM s)
        |SELECT query_id, rank, candidate_id, cosine FROM r
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // learned-centroid IVF top-k, GUARANTEED-EXACT (r9 VERDICT task 1):
    // the nProbe = 4/16 probe still runs and is timed, but its kth-best
    // cosine now drives a triangle-inequality completeness pass
    // (Similarity.ivfTopKExact) that scans exactly the lists whose
    // centroid bound admits a better candidate — so the declared output
    // is brute-force top-k bit-for-bit (DuckDB brute-force oracle
    // hash-matches) for ANY centroid quality, and the probe's recall
    // trade becomes a scan-fraction trade instead. Centroids + radii
    // trained/derived ONCE per (session, sf dir) — the realistic
    // train-once / probe-many shape. Distinct query slice (vec_id
    // 32..39, k = 6) so the gate is not a literal re-run of the other
    // ANN anchors.
    "emb_ivf_topk" -> (((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") >= 32 && col("vec_id") < 40)
      Similarity.ivfTopKExact(emb, queries, "vec_id",
          "embedding", k = 6, nProbe = 4, ivfCentsFor(s, dir),
          Some(ivfRadiiFor(s, dir)))
        .select(col("query_id"), col("rank"), col("candidate_id"), col("cosine"))
    },
      // the exact pruned IVF probe returns brute-force top-k by the
      // triangle-inequality completeness argument (Similarity.ivfTopKExact
      // scaladoc), so the oracle is brute force over the 32..39 query
      // slice with the engine's (cosine desc, candidate) tie order
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (
        |$CosinePairSelect
        |  FROM e q JOIN e c ON q.vec_id >= 32 AND q.vec_id < 40 AND c.vec_id <> q.vec_id),
        |r AS (SELECT query_id, candidate_id, cosine,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, candidate_id) AS rank
        |      FROM s)
        |SELECT query_id, rank, candidate_id, cosine FROM r
        |WHERE rank <= 6 ORDER BY query_id, rank""".stripMargin)),

    // learned-centroid IVF at EXHAUSTIVE routing (nProbe = nLists) — the
    // oracle-pinned anchor for the non-PQ IVF lifecycle, mirroring what
    // emb_ivfpq_rerank does for the PQ path: with every list probed, each
    // candidate joins exactly once (its single assigned list) and gets
    // the exact cosine, so the result IS brute-force top-k and a
    // brute-force DuckDB oracle hash-matches it — routing, assignment,
    // and scoring all sit on the driver gate. emb_ivf_topk above stays
    // the honest TIMED approximate path (nProbe < nLists, rows-only).
    // Distinct query slice (vec_id 8..15, k = 7) so the gate is not a
    // literal re-run of emb_cosine_topk or the PQ anchor.
    "emb_ivf_exhaustive" -> (((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") >= 8 && col("vec_id") < 16)
      Similarity.ivfTopKLearned(emb, queries, "vec_id",
          "embedding", k = 7, nLists = 16, nProbe = 16,
          precomputedCents = Some(ivfCentsFor(s, dir)))
        .select(col("query_id"), col("rank"), col("candidate_id"), col("cosine"))
    },
      // exhaustive-routing learned-centroid IVF ≡ brute-force exact top-k
      // (every list probed ⇒ every candidate scored with the exact cosine
      // exactly once), so the oracle is brute force over the 8..15 query
      // slice with the engine's (cosine desc, candidate) tie order
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (
        |$CosinePairSelect
        |  FROM e q JOIN e c ON q.vec_id >= 8 AND q.vec_id < 16 AND c.vec_id <> q.vec_id),
        |r AS (SELECT query_id, candidate_id, cosine,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, candidate_id) AS rank
        |      FROM s)
        |SELECT query_id, rank, candidate_id, cosine FROM r
        |WHERE rank <= 7 ORDER BY query_id, rank""".stripMargin)),

    // IVF RETRAIN-ON-DRIFT, oracle-pinned probe parity: after the
    // build → drifted append → bounded retrain lifecycle ([[ivfDriftFor]],
    // requires pin incrementality + drift reduction at build time), the
    // exhaustive probe (nProbe = nLists) over the retrained index still
    // returns brute-force top-k bit-for-bit — assignment is routing
    // metadata, never scoring, so re-clustering the drifted lists CANNOT
    // change exact results (what it restores is approximate-probe recall
    // and the exact probe's scan fraction). A lost/duplicated row or a
    // mangled vector in the partition swap would hash-mismatch the
    // brute-force oracle over base ∪ shifted wave. Query slice 24..31,
    // k = 8 — not a literal re-run of the other ANN anchors.
    "emb_ivf_drift_retrain" -> (((s, dir) => {
      val p = ivfDriftFor(s, dir)
      val queries = t(s, dir, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
        .where(col("vec_id") >= 24 && col("vec_id") < 32)
      Similarity.ivfProbeIndex(s, p, queries, "vec_id",
          "embedding", k = 8, nProbe = 16)
        .select(col("query_id"), col("rank"), col("candidate_id"),
          col("cosine"))
    },
      // retrain-on-drift probe parity: the retrained index's exhaustive
      // probe is still brute-force top-k over base ∪ the +3.0-shifted
      // drifted wave (queries are base vectors 24..31; the shifted twins
      // are candidates like any other row)
      s"""WITH e0 AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |    embedding::DOUBLE[] AS v FROM embeddings),
        |e AS (SELECT vec_id, v FROM e0
        |  UNION ALL
        |  SELECT vec_id + 1000000, [x + 3.0 for x in v] FROM e0),
        |s AS (
        |$CosinePairSelect
        |  FROM e0 q JOIN e c ON q.vec_id >= 24 AND q.vec_id < 32
        |    AND c.vec_id <> q.vec_id),
        |r AS (SELECT query_id, candidate_id, cosine,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, candidate_id) AS rank
        |      FROM s)
        |SELECT query_id, rank, candidate_id, cosine FROM r
        |WHERE rank <= 8 ORDER BY query_id, rank""".stripMargin)),

    // per-label embedding centroids: element-wise mean-pooling — the
    // class-centroid / cluster-representative primitive (what seeds an
    // IVF retrain or picks a semantic-dedup representative). Flat
    // (label, dim, mean) output: posexplode + one (label, dim) hash
    // aggregate, exact DECIMAL(38,12) partials, one division + round(6)
    // at the end — partitioning- and engine-invariant.
    "emb_label_centroids" -> (((s, dir) => {
      Similarity.meanVectorByKey(t(s, dir, "embeddings"),
        "label", "embedding")
    },
      // same element-wise exact-decimal mean per (label, dim)
      """WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
        |x AS (SELECT label,
        |    unnest([{'dim': i - 1, 'val': v[i]}
        |            for i in generate_series(1, len(v))]) AS u
        |  FROM e)
        |SELECT label, u.dim AS dim,
        |  ROUND(CAST(SUM(CAST(u.val AS DECIMAL(38,12))) AS DOUBLE)
        |    / COUNT(*), 6) AS mean
        |FROM x GROUP BY label, u.dim ORDER BY label, dim""".stripMargin)),

    // in-engine Lloyd k-means, trained BY the engine and pinned BY the
    // oracle: the QualityModel generated-oracle discipline applied to
    // clustering — every Lloyd round's assignment argmin runs on
    // 6-dp-portably-rounded exact-decimal distances and every centroid
    // update is an exact decimal sum + one IEEE division snapped to the
    // 6-dp grid, so a DuckDB replay of all 3 rounds (4 CTEs per round)
    // lands on bit-identical centroids. Seeds = the k smallest-id
    // vectors (no RNG); empty clusters carry forward. Output: final
    // centroids + final-assignment cluster sizes (k·d rows). Scale: the
    // working set is the cached (id, vector) frame; each round is one
    // Spark job (a treeAggregate of per-partition exact (cluster, dim)
    // sums) with O(k·d) driver traffic — corpus-size-independent rounds
    // (see Kmeans object doc).
    "emb_kmeans" -> (((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val m = Kmeans.train(emb, "vec_id", "embedding", k = 8, iters = 3)
      val af = Kmeans.assignFinal(emb, "vec_id", "embedding", m)
      val sizes = af.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
      Kmeans.centroidFrame(s, m)
        .join(sizes, Seq("cluster"), "left")
        .select(col("cluster"), coalesce(col("n"), lit(0L)).as("n"),
          col("dim"), col("c"))
    },
      // generated training replay: 3 Lloyd rounds as CTE chains (distance /
      // argmin / update / carry-forward), exact-decimal aggregates + the
      // portable floor-round — lands on bit-identical centroids (the
      // QualityModel generated-oracle discipline applied to clustering)
      (Kmeans.oracleCtes(8, 3,
        "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings") +
      """,
        |sz AS (SELECT cl, COUNT(*) AS n FROM af GROUP BY 1)
        |SELECT c.cl AS cluster, COALESCE(sz.n, 0) AS n, c.dim AS dim,
        |  c.cv AS c
        |FROM c3 c LEFT JOIN sz ON c.cl = sz.cl
        |ORDER BY cluster, dim""".stripMargin))),

    // nearest-centroid assignment (prototype classification / DCLM-style
    // cluster-based curation audit): every vector labelled with its
    // closest label-centroid by squared L2, argmin over the 6-dp-rounded
    // exact-decimal distance so the decision is engine-portable. The
    // relational audit form (broadcast dim-join + one hash agg); the
    // serving twin with literal centroids is Similarity.nearestList.
    "emb_nearest_centroid" -> (((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.nearestCentroid(emb, "vec_id", "label", "embedding")
        .join(emb.select(col("vec_id"),
          col("label").cast("long").as("true_label")), "vec_id")
        .select(col("vec_id"), col("true_label"), col("assigned"),
          col("dist2"))
    },
      // identical 6-dp centroids, identical exact-decimal distance sums,
      // identical (dist2, label) argmin tie order
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |x AS (SELECT vec_id,
        |    unnest([{'dim': i - 1, 'val': v[i]}
        |            for i in generate_series(1, len(v))]) AS u
        |  FROM e),
        |xl AS (SELECT label,
        |    unnest([{'dim': i - 1, 'val': v[i]}
        |            for i in generate_series(1, len(v))]) AS u
        |  FROM e),
        |c AS (SELECT label, u.dim AS dim,
        |    ROUND(CAST(SUM(CAST(u.val AS DECIMAL(38,12))) AS DOUBLE)
        |      / COUNT(*), 6) AS mean
        |  FROM xl GROUP BY label, u.dim),
        |d AS (SELECT x.vec_id, c.label AS ckey,
        |    floor(CAST(SUM(CAST((x.u.val - c.mean) * (x.u.val - c.mean)
        |      AS DECIMAL(38,12))) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS dist2
        |  FROM x JOIN c ON x.u.dim = c.dim GROUP BY 1, 2),
        |p AS (SELECT vec_id, ckey, dist2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, ckey) AS rn
        |  FROM d)
        |SELECT p.vec_id, CAST(e.label AS BIGINT) AS true_label,
        |  CAST(p.ckey AS BIGINT) AS assigned, p.dist2
        |FROM p JOIN e ON p.vec_id = e.vec_id
        |WHERE p.rn = 1 ORDER BY p.vec_id""".stripMargin)),

    // symmetric per-vector int8 quantization (scale = max|x|/127, half-up
    // explicit as floor(x+0.5)): the storage/serving compression pass for
    // an embedding corpus. Row-local codegen'd array expressions — zero
    // shuffle; the audit stats pin every element (exact integer q_sum /
    // q_l1) plus the 6-dp reconstruction-error bound.
    "emb_quantize_int8" -> (((s, dir) => {
      Similarity.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
        
    },
      // identical op sequence: amax/127, floor(x/scale+0.5), exact int
      // aggregates, 6-dp error bound
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |  list_max([abs(x) for x in v]) / 127.0 AS scale FROM e),
        |q AS (SELECT vec_id, v, scale,
        |  CASE WHEN scale = 0
        |    THEN [CAST(0 AS BIGINT) for x in v]
        |    ELSE [CAST(floor(x / scale + 0.5) AS BIGINT) for x in v]
        |  END AS qv FROM s)
        |SELECT vec_id, round(scale, 6) AS qscale,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(list_sum([abs(x) for x in qv]) AS BIGINT) AS q_l1,
        |  round(list_max([abs(v[i] - qv[i] * scale)
        |    for i in generate_series(1, len(v))]), 6) AS max_abs_err
        |FROM q ORDER BY vec_id""".stripMargin)),

    // Achlioptas ±1 sign projection to 16 dims: the cheap JL
    // dimensionality reduction ahead of exact reranking. The md5-derived
    // sign matrix materializes driver-side into plan literals — the
    // projection itself is a zero-shuffle row-local codegen'd map.
    "emb_rand_proj" -> (((s, dir) => {
      Similarity.signProjection(t(s, dir, "embeddings"), "vec_id",
          "embedding", k = 16)
        
    },
      // identical sign matrix from md5("i:j") first-hex-digit parity,
      // identical sequential fold, 6-dp round
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT vec_id, j AS dim,
        |  round(list_sum([v[i] *
        |      (CASE WHEN substr(md5((i - 1)::VARCHAR || ':' || j::VARCHAR), 1, 1)
        |              BETWEEN '0' AND '7' THEN 1.0 ELSE -1.0 END)
        |    for i in generate_series(1, len(v))]), 6) AS p
        |FROM e CROSS JOIN generate_series(0, 15) g(j)
        |ORDER BY vec_id, dim""".stripMargin)),

    // k-NN label classification (label propagation): each query's label
    // predicted by majority vote over its 9 nearest neighbors by cosine,
    // ties broken toward the smallest label — the standard embedding-
    // space labeling pass (works off the same cosineTopK primitive the
    // ANN family shares; at scale the candidate pass swaps for the IVF
    // probe unchanged). Fresh query slice (24..31) so the gate is not a
    // re-run of the other top-k anchors.
    "emb_knn_classify" -> (((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") >= 24 && col("vec_id") < 32)
      val nn = Similarity.cosineTopK(emb, queries, "vec_id", "embedding",
          k = 9)
        .join(emb.select(col("vec_id").as("candidate_id"),
          col("label").cast("long").as("nbr_label")), "candidate_id")
      val votes = nn.groupBy(col("query_id"), col("nbr_label"))
        .agg(count(lit(1)).as("n_votes"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("n_votes").desc, col("nbr_label"))
      val pred = votes.withColumn("_r", row_number().over(w))
        .where(col("_r") === 1)
        .select(col("query_id"), col("nbr_label").as("predicted"),
          col("n_votes"))
      pred.join(emb.select(col("vec_id").as("query_id"),
          col("label").cast("long").as("true_label")), "query_id")
        .select(col("query_id"), col("true_label"), col("predicted"),
          col("n_votes"))
    },
      // same brute-force 9-NN by (cosine desc, candidate) rank, majority
      // vote with (votes desc, label asc) tie order
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
        |    c.label AS nbr_label,
        |    round(
        |      list_sum([q.v[i] * c.v[i] for i in generate_series(1, len(q.v))]) /
        |      (sqrt(list_sum([q.v[i] * q.v[i] for i in generate_series(1, len(q.v))])) *
        |       sqrt(list_sum([c.v[i] * c.v[i] for i in generate_series(1, len(c.v))]))), 6) AS cosine
        |  FROM e q JOIN e c ON q.vec_id >= 24 AND q.vec_id < 32 AND c.vec_id <> q.vec_id),
        |r AS (SELECT query_id, nbr_label, cosine,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, candidate_id) AS rnk
        |      FROM s),
        |v AS (SELECT query_id, CAST(nbr_label AS BIGINT) AS nbr_label,
        |        CAST(COUNT(*) AS BIGINT) AS n_votes
        |      FROM r WHERE rnk <= 9 GROUP BY query_id, nbr_label),
        |p AS (SELECT query_id, nbr_label AS predicted, n_votes,
        |        row_number() OVER (PARTITION BY query_id
        |          ORDER BY n_votes DESC, nbr_label) AS pr
        |      FROM v)
        |SELECT p.query_id, CAST(e.label AS BIGINT) AS true_label,
        |  p.predicted, p.n_votes
        |FROM p JOIN e ON p.query_id = e.vec_id
        |WHERE p.pr = 1 ORDER BY p.query_id""".stripMargin)),

    // HARD-NEGATIVE MINING — the contrastive-training data miner: per
    // query, the top-k most-similar candidates with a DIFFERENT label
    // (high cosine + wrong class = the hardest negatives, the pairs a
    // metric-learning run needs most). Same one-pass scan shape as
    // emb_cosine_topk (queries broadcast, label filter BEFORE the
    // per-query top-k window cuts each group to k); at 100 TB the label
    // filter also rides the scan. Labels carried on both sides so the
    // miner's output is directly a triplet-builder input.
    "emb_hard_negatives" -> (((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
          col("label").cast("long").as("label"))
      val q = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          Similarity.norm(col("v")).as("_qn"),
          col("label").as("query_label"))
      val c = emb.withColumn("_cn", Similarity.norm(col("v")))
        .repartition(col("vec_id"))
      val scored = c.crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("query_id") &&
          col("label") =!= col("query_label"))
        .select(col("query_id"), col("query_label"),
          col("vec_id").as("candidate_id"),
          col("label").as("candidate_label"),
          round(Similarity.dot(col("qv"), col("v")) /
            (col("_qn") * col("_cn")), 6).as("cosine"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("candidate_id"))
      scored.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 5)
        .select(col("query_id"), col("query_label"), col("rank"),
          col("candidate_id"), col("candidate_label"), col("cosine"))
    },
      // same brute-force cosine replay with the different-label filter
      // applied before the per-query rank
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |    CAST(label AS BIGINT) AS label FROM embeddings),
        |s AS (
        |  SELECT q.vec_id AS query_id, q.label AS query_label,
        |    c.vec_id AS candidate_id, c.label AS candidate_label,
        |    round(
        |      list_sum([q.v[i] * c.v[i] for i in generate_series(1, len(q.v))]) /
        |      (sqrt(list_sum([q.v[i] * q.v[i] for i in generate_series(1, len(q.v))])) *
        |       sqrt(list_sum([c.v[i] * c.v[i] for i in generate_series(1, len(c.v))]))), 6) AS cosine
        |  FROM e q JOIN e c ON q.vec_id < 8 AND c.vec_id <> q.vec_id
        |    AND c.label <> q.label),
        |r AS (SELECT query_id, query_label, candidate_id, candidate_label,
        |    cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, candidate_id) AS rank
        |  FROM s)
        |SELECT query_id, query_label, rank, candidate_id, candidate_label,
        |  cosine
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // 1-bit-quantized Hamming top-k: sign-pack each embedding into two
    // 32-bit code halves (exact MSB-first integer folds), rank by
    // popcount of the XOR — the binary-code ANN baseline (64× smaller
    // than the floats; distance = 2 codegen'd integer ops per pair).
    // Fresh query slice (40..47) so the gate is not a re-run of the
    // cosine/IVF anchors.
    "emb_hamming_topk" -> (((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hammingTopK(emb,
          emb.where(col("vec_id") >= 40 && col("vec_id") < 48),
          "vec_id", "embedding", k = 10)
    },
      // identical MSB-first sign packing (sum of powers of two ≡ the
      // acc-doubling fold), identical popcount-of-XOR distance
      """WITH p AS (
        |  SELECT vec_id,
        |    CAST(SUM(CASE WHEN i < 32 AND embedding[i+1] >= 0
        |      THEN 1::BIGINT << (31 - i) ELSE 0 END) AS BIGINT) AS b0,
        |    CAST(SUM(CASE WHEN i >= 32 AND embedding[i+1] >= 0
        |      THEN 1::BIGINT << (63 - i) ELSE 0 END) AS BIGINT) AS b1
        |  FROM embeddings, range(0, 64) t(i) GROUP BY 1),
        |s AS (SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
        |    CAST(bit_count(xor(q.b0, c.b0)) + bit_count(xor(q.b1, c.b1))
        |      AS BIGINT) AS hamming
        |  FROM p q JOIN p c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id >= 40 AND q.vec_id < 48),
        |r AS (SELECT query_id, candidate_id, hamming,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY hamming, candidate_id) AS rank FROM s)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, candidate_id, hamming
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // brute-force cosine top-k (ANN baseline; queries = vec_id < 8)
    "emb_cosine_topk" -> (((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.cosineTopK(emb, emb.where(col("vec_id") < 8), "vec_id",
          "embedding", k = 5)
        .select(col("query_id"), col("rank"), col("candidate_id"), col("cosine"))
    },
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (
        |$CosinePairSelect
        |  FROM e q JOIN e c ON q.vec_id < 8 AND c.vec_id <> q.vec_id),
        |r AS (SELECT query_id, candidate_id, cosine,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, candidate_id) AS rank
        |      FROM s)
        |SELECT query_id, rank, candidate_id, cosine FROM r
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // most-similar pairs within a BOUNDED id-slice — the exact audit
    // form, scoped so its plan is O(1) in corpus size (VERDICT r9 weak
    // #2): global top-N at unrestricted similarity is inherently
    // quadratic (this fixture's top-20 pair cosines measure 0.44–0.51,
    // below any useful sign-LSH amplification threshold — recovering
    // them via banding costs more candidates than the join), so the
    // HEADLINE corpus-scale pair miner is emb_lsh_top_pairs below
    // (banded candidates + exact verify, complete for cosine ≥ 0.8) and
    // the exact all-pairs form audits a FIXED 1000-id slice — the same
    // bounded-slice discipline the recall_* columns use. `_slice` in the
    // name declares the scope.
    // matryoshka-style dimension-truncation audit: recall@10 of
    // prefix-truncated cosine search (8/16/32 of 64 dims) against the
    // full-dimension top-10 — the serving cost/quality tradeoff an
    // embedding-store operator reads before dropping dims at scale.
    // Four bounded brute-force passes over the 32-query slice (the
    // recall_* audit discipline); ranks on the 6-dp-rounded cosine with
    // the id tie order, so the recall fractions are engine-exact.
    "emb_dim_truncate" -> (((s, dir) => {
      // r17: ONE pair pass instead of five brute-force cosineTopK passes.
      // The sliced cosine at cut d is the dot fold's accumulator after d
      // terms (DotProduct sums left-to-right from 0.0), so a single
      // PrefixCosines kernel observes all four budgets' cosines
      // bit-identically in one corpus × query scan; the d = 64 cut IS the
      // full-dimension reference set. Four rank windows share the one
      // pinned scored frame (ExtSpec pins equality against the five-pass
      // formulation rebuilt inline).
      val cuts = Seq(8, 16, 32, 64)
      // the d = cuts.max cut stands in for full width only if every vector
      // is exactly that wide: fail loudly in the projection (no extra job)
      val width = size(col("embedding"))
      val base = t(s, dir, "embeddings")
        .select(col("vec_id"),
          when(col("embedding").isNotNull && width =!= cuts.max,
            raise_error(concat(lit("emb_dim_truncate: embedding width "),
              width.cast("string"), lit(s" != ${cuts.max}"))))
            .otherwise(col("embedding").cast("array<double>")).as("_v"))
      val q = base.where(col("vec_id") < 32)
        .select(col("vec_id").as("query_id"), col("_v").as("_qv"))
      val scored = Pin.pin(base.repartition(col("vec_id"))
        .crossJoin(broadcast(q))
        .where(col("vec_id") =!= col("query_id"))
        .withColumn("_pc", graft.functions.VectorFunctions.prefixCosines(
          col("_qv"), col("_v"), cuts))
        .select(Seq(col("query_id"), col("vec_id").as("candidate_id")) ++
          cuts.indices.map(i =>
            round(element_at(col("_pc"), i + 1), 6).as(s"_cos$i")): _*))
      def topk(i: Int) = {
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col(s"_cos$i").desc, col("candidate_id"))
        scored.withColumn("rank", row_number().over(w))
          .where(col("rank") <= 10)
          .select(col("query_id"), col("candidate_id"))
      }
      val full = topk(cuts.length - 1).transform(Pin.pin)
      cuts.zipWithIndex.map { case (d, i) =>
        topk(i).join(full, Seq("query_id", "candidate_id"))
          .agg(count(lit(1)).as("hits"))
          .select(lit(d.toLong).as("dims"), col("hits"))
      }.reduce(_ unionByName _)
        .select(col("dims"), col("hits"),
          round(col("hits").cast("double") / lit(320.0), 6).as("recall_at_10"))

    },
      // same brute-force replay per truncation width; the full-width
      // top-10 is the dims = 64 slice of the same ranked frame
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |dd AS (SELECT unnest([8, 16, 32, 64]) AS dims),
        |s AS MATERIALIZED (
        |  SELECT dd.dims, q.vec_id AS query_id, c.vec_id AS candidate_id,
        |    round(
        |      list_sum([q.v[i] * c.v[i] for i in generate_series(1, dd.dims)]) /
        |      (sqrt(list_sum([q.v[i] * q.v[i] for i in generate_series(1, dd.dims)])) *
        |       sqrt(list_sum([c.v[i] * c.v[i] for i in generate_series(1, dd.dims)]))), 6)
        |      AS cosine
        |  FROM e q JOIN e c ON q.vec_id < 32 AND c.vec_id <> q.vec_id, dd),
        |r AS MATERIALIZED (
        |  SELECT dims, query_id, candidate_id, row_number() OVER (
        |    PARTITION BY dims, query_id ORDER BY cosine DESC, candidate_id)
        |    AS rank
        |  FROM s),
        |full10 AS (SELECT query_id, candidate_id FROM r
        |           WHERE dims = 64 AND rank <= 10),
        |h AS (SELECT r.dims, CAST(COUNT(*) AS BIGINT) AS hits
        |      FROM r JOIN full10 USING (query_id, candidate_id)
        |      WHERE r.rank <= 10 GROUP BY 1)
        |SELECT CAST(dims AS BIGINT) AS dims, hits,
        |  round(CAST(hits AS DOUBLE) / 320.0, 6) AS recall_at_10
        |FROM h ORDER BY dims""".stripMargin)),

    "emb_top_pairs_slice" -> (((s, dir) => {
      Similarity.topPairs(
        t(s, dir, "embeddings").where(col("vec_id") < 1000),
        "vec_id", "embedding", 20)
    },
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |          WHERE vec_id < 1000)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(
        |    list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))]) /
        |    (sqrt(list_sum([a.v[i] * a.v[i] for i in generate_series(1, len(a.v))])) *
        |     sqrt(list_sum([b.v[i] * b.v[i] for i in generate_series(1, len(b.v))]))), 6) AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |ORDER BY cosine DESC, id_a, id_b LIMIT 20""".stripMargin)),

    // thresholded global top-N via LSH candidates + exact verify — the
    // scale path (topPairsLsh): complete for cosine >= 0.8 by banding
    // design, deterministic for exact duplicates (identical signatures
    // collide in every band). The natural corpus is near-orthogonal
    // (measured max pair cosine 0.51 at sf0.01 / 0.60 at sf0.1), so the
    // >= 0.8 regime is populated by DETERMINISTIC PLANTED DUPLICATES
    // computed inside the query: every vec_id % 25 == 0 row is copied
    // under vec_id + 100000. The DuckDB oracle applies the identical
    // plant and an exhaustive >= 0.8 scan, so the gate now exercises
    // banding recall on a non-empty result (planted pairs are recovered
    // with probability 1 — identical signatures collide in every band)
    // while still pinning zero false positives from the natural corpus.
    "emb_lsh_top_pairs" -> (((s, dir) => {
      val base = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = base.where(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      Similarity.topPairsLsh(base.unionByName(planted), "vec_id", "embedding",
        topN = 20, minCosine = 0.8, bits = 12, bands = 16)
    },
      """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |e AS (SELECT vec_id, v FROM base
        |      UNION ALL
        |      SELECT vec_id + 100000, v FROM base WHERE vec_id % 25 = 0),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(
        |      list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))]) /
        |      (sqrt(list_sum([a.v[i] * a.v[i] for i in generate_series(1, len(a.v))])) *
        |       sqrt(list_sum([b.v[i] * b.v[i] for i in generate_series(1, len(b.v))]))), 6) AS cosine
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.8
        |ORDER BY cosine DESC, id_a, id_b LIMIT 20""".stripMargin)),

    // multimodal ingest: binary payload + typed metadata (sha256/bytes)
    "multimodal_meta" -> (((s, dir) => {
      graft.ext.Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text", "source")
        .select(col("doc_id"), col("meta.modality").as("modality"),
          col("meta.byteLen").as("byte_len"), col("meta.sha256").as("sha256"))
        
    },
      """SELECT doc_id, source AS modality,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len, sha256(text) AS sha256
        |FROM documents ORDER BY doc_id""".stripMargin)),

    // IMAGE perceptual near-dup pairs (content-level image dedup): dHash
    // over REAL decoded pixels (javax.imageio), banded hamming search —
    // no all-pairs. The corpus is the deterministic procedural-PNG
    // stand-in (no image corpus ships in the testdata): pattern from
    // md5(text), brightness from doc_id — so text-twin docs yield
    // byte-DIFFERENT payloads (sha256 all differ) whose dHash is exactly
    // equal (uniform-brightness invariance, proven in MultimodalSpec),
    // and the oracle can pin the content-match set relationally while
    // the engine path exercises real decode + banding end to end.
    "multimodal_phash_pairs" -> (((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // planted content twins (same text, different id ⇒ different
      // brightness ⇒ different bytes): the image-corpus analogue of the
      // dedup fixtures' copy planting
      val copies = docs.where(col("doc_id") % 20 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      // codec-bound stage: a small parquet arrives as ONE split, which
      // would serialize ~ms-per-image encode+decode on a single core —
      // spread the row-local codec work across the executors first (at
      // real image-corpus scale the input splits already provide this)
      val media = docs.unionByName(copies)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val seed = java.security.MessageDigest.getInstance("MD5")
            .digest(text.getBytes("UTF-8"))
          // 18×16 payloads: the fixture-synthesis cost (PNG encode) is
          // NOT the operator under test — keep it small so the timed
          // number tracks decode+hash+banding; phash200k carries the
          // full-size codec-throughput evidence
          (id, graft.ext.MultimodalCodecs.syntheticImage(seed, w = 18, h = 16,
            brightness = (id % 33).toInt))
        }).toDF("doc_id", "payload")
      val hashed = graft.ext.Multimodal.dHashes(media, "doc_id", "payload")
      graft.ext.Multimodal.phashPairs(hashed)
    },
      // the content-match set is exactly the text-twin pairs: same md5 ⇒
      // same pattern ⇒ dHash equal (hamming 0) despite byte-different
      // payloads; different md5 ⇒ independent patterns, far beyond 6 bits
      PlantedTwinPairsOracle)),

    // AUDIO fingerprint near-dup pairs (content-level audio dedup): the
    // gain-invariant RMS-delta-sign fingerprint over REAL decoded PCM
    // (javax.sound), same Manku-banded hamming search as the image path.
    // Planted twins render the SAME seed at a power-of-two gain apart —
    // byte-different WAV files (sha256 differs), identical fingerprints.
    "multimodal_audio_fp_pairs" -> (((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val copies = docs.where(col("doc_id") % 20 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val media = docs.unionByName(copies)
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism)
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val seed = java.security.MessageDigest.getInstance("MD5")
            .digest(text.getBytes("UTF-8"))
          (id, graft.ext.MultimodalCodecs.syntheticWav(seed,
            gainShift = if (id >= 1000000L) 1 else 0))
        }).toDF("doc_id", "payload")
      val fps = graft.ext.Multimodal.audioFps(media, "doc_id", "payload")
      graft.ext.Multimodal.phashPairs(fps)
    },
      // same planted set as the image path: twins are the gain-shifted
      // renders, content-equal ⇒ hamming 0
      PlantedTwinPairsOracle)),

    // CROSS-MODAL DEDUP COMPOSITION (r15 VERDICT task 6): one keep
    // decision over the UNION of the text simhash pair graph and the
    // image dHash pair graph — the curation form a multimodal corpus
    // needs, because each planted twin class is INVISIBLE to the other
    // modality: `imgclone` rows (+1000000, doc_id % 20 == 3) re-ship the
    // SAME image under token-wise unrelated text (only the image graph
    // pairs them); `txtclone` rows (+2000000, doc_id % 20 == 11) re-ship
    // the same text under a DIFFERENT image (only the text graph pairs
    // them). A doc is a duplicate iff EITHER modality pairs it with a
    // smaller id. Both graphs are banded (Manku combination bands — no
    // all-pairs stage), images are REAL decoded pixels (dHash over the
    // procedural-PNG stand-in, brightness-invariant), and the oracle
    // replays the text side's portable simhash bit-exactly and the image
    // side by seed equality (the multimodal_phash_pairs content-match
    // replay).
    "multimodal_cross_dedup" -> (((s, dir) => {
      implicit val sp: SparkSession = s
      import s.implicits._
      val docs = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      // (doc_id, text, iseed): iseed is the image CONTENT key (the
      // procedural pattern seed); text is what the simhash sees
      val corpus = docs.select(col("doc_id"), col("text"),
          col("text").as("iseed"))
        .unionByName(docs.where(col("doc_id") % 20 === 3)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat_ws(" ", lit("imgclone"), col("doc_id").cast("string"),
              md5(col("text"))).as("text"),
            col("text").as("iseed")))
        .unionByName(docs.where(col("doc_id") % 20 === 11)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"),
            concat_ws(" ", lit("txtimgseed"), col("doc_id").cast("string"),
              md5(col("text"))).as("iseed")))
        .transform(Pin.pin) // three consumers: text graph, media, ids
      val media = corpus.select(col("doc_id"), col("iseed"))
        .repartition(s.sparkContext.defaultParallelism)
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, seed) =>
          val sd = java.security.MessageDigest.getInstance("MD5")
            .digest(seed.getBytes("UTF-8"))
          (id, graft.ext.MultimodalCodecs.syntheticImage(sd, w = 18, h = 16,
            brightness = (id % 33).toInt))
        }).toDF("doc_id", "payload")
      val pairsT = Dedup.simhashDupPairsAtScalePortable(corpus, "doc_id",
        "text")
      val pairsI = graft.ext.Multimodal.phashPairs(
        graft.ext.Multimodal.dHashes(media, "doc_id", "payload"))
      corpus.select(col("doc_id"))
        .join(pairsT.select(col("doc_b").as("doc_id")).distinct()
          .withColumn("_t", lit(true)), Seq("doc_id"), "left")
        .join(pairsI.select(col("doc_b").as("doc_id")).distinct()
          .withColumn("_i", lit(true)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("_t"), lit(false)).as("dup_text"),
          coalesce(col("_i"), lit(false)).as("dup_image"),
          (!(coalesce(col("_t"), lit(false)) ||
             coalesce(col("_i"), lit(false)))).as("keep"))
    },
      // union-of-graphs keep decision: the text side replays the portable
      // simhash bit-exactly (doc_simhash_pairs machinery over the planted
      // corpus), the image side pairs by seed equality (same md5 ⇒ same
      // pattern ⇒ dHash 0, the multimodal_phash_pairs content replay)
      s"""WITH d AS (
        |  SELECT doc_id, text, text AS iseed FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    concat_ws(' ', 'imgclone', CAST(doc_id AS VARCHAR), md5(text)),
        |    text
        |  FROM documents WHERE doc_id % 20 = 3
        |  UNION ALL
        |  SELECT doc_id + 2000000, text,
        |    concat_ws(' ', 'txtimgseed', CAST(doc_id AS VARCHAR), md5(text))
        |  FROM documents WHERE doc_id % 20 = 11),
        |toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM d),
        |$SimhashCtes,
        |tp AS (SELECT b.doc_id AS doc_id
        |       FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |       WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        |dupt AS (SELECT DISTINCT doc_id FROM tp),
        |im AS (SELECT doc_id, md5(iseed) AS m FROM d),
        |dupi AS (SELECT DISTINCT b.doc_id AS doc_id
        |         FROM im a JOIN im b ON a.m = b.m AND a.doc_id < b.doc_id)
        |SELECT d.doc_id,
        |  (dupt.doc_id IS NOT NULL) AS dup_text,
        |  (dupi.doc_id IS NOT NULL) AS dup_image,
        |  NOT ((dupt.doc_id IS NOT NULL) OR (dupi.doc_id IS NOT NULL)) AS keep
        |FROM d LEFT JOIN dupt ON d.doc_id = dupt.doc_id
        |  LEFT JOIN dupi ON d.doc_id = dupi.doc_id
        |ORDER BY d.doc_id""".stripMargin)))
}
