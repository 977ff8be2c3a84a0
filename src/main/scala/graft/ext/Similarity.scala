package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference,
  Descending, Expression, GenericInternalRow, InterpretedOrdering, JoinedRow,
  MutableProjection, SortOrder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType}
import scala.collection.mutable.ArrayBuffer

/** Embedding similarity search over an `array<float>` column.
  *
  * Numeric discipline (for engine-portable determinism): embeddings are
  * widened float→double (exact), dot products are sequential left-to-right
  * array folds — bit-identical to DuckDB's list arithmetic — and
  * similarities are rounded before ranking so top-k cuts are stable across
  * engines and partitionings.
  */
object Similarity {

  /** Decimal places of every emitted cosine (engine and oracle agree). */
  private[graft] val RoundScale = 6
  /** k-means rounds an IVF index trains its centroids with. */
  private[graft] val IvfIters = 3
  /** Hash blocks [[topPairs]] splits the all-pairs join into. */
  private val PairBlocks = 8

  /** Sequential dot product of two double arrays. Backed by the native
    * codegen'd [[graft.functions.DotProduct]] expression (same
    * left-to-right IEEE order as the HOF fold below, ~20× faster). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotNative(a, b)

  /** Higher-order-function formulation of [[dot]] — kept as the reference
    * implementation (bit-identical results) and for engines without the
    * native expression. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  private def asDouble(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn(vecCol, col(vecCol).cast("array<double>"))

  /** Element-wise mean vector per key — the class-centroid /
    * cluster-representative primitive (mean-pooling a group of
    * embeddings). Emits the FLAT (key, dim, mean) frame: posexplode +
    * one (key, dim) hash aggregate with map-side combine — k·dims
    * groups total, no vector ever re-assembled on a single task, so the
    * shape is one narrow pass at any corpus size. Sums run as
    * DECIMAL(38,12) (float32 inputs cast to double are exact there), so
    * the mean is partitioning- and engine-invariant; one IEEE division
    * + round(6) at the end — the same exact-partials rule as
    * [[graft.ops.Resample.detMean]]. */
  def meanVectorByKey(df: DataFrame, keyCol: String, vecCol: String): DataFrame =
    asDouble(df, vecCol)
      .select(col(keyCol), posexplode(col(vecCol)).as(Seq("dim", "_v")))
      .groupBy(col(keyCol), col("dim"))
      .agg(round(
        (sum(col("_v").cast(org.apache.spark.sql.types.DataTypes
          .createDecimalType(38, 12))).cast("double") / count(lit(1))), 6)
        .as("mean"))

  /** Nearest-centroid assignment: each vector labelled with the key of
    * its closest [[meanVectorByKey]] centroid by squared L2 — the
    * prototype-classification / cluster-audit pass (DCLM-style
    * cluster-based curation assigns every document to a quality cluster
    * exactly this way; also the confusion-audit for labelled corpora).
    * Ties break toward the smallest key.
    *
    * Exact-decimal discipline, partitioning-invariant end to end:
    * centroids are the 6-dp-rounded exact-decimal means; per-(vector,
    * centroid) distance accumulates the IEEE (x−mean)² terms as
    * DECIMAL(38,12) (order-free), is rounded to 6 dp, and ONLY then
    * enters the argmin — so the assignment decision is bit-stable across
    * engines and shuffles. Scale shape (r16): one map-side-combinable
    * (key, dim) mean aggregate whose k·dims rows COLLECT to the driver
    * (metadata-bounded — the [[graft.ext.Kmeans]] centroid-collect
    * contract), then the assignment runs as the row-local codegen'd
    * [[graft.functions.NearestCentroidDecimal]] argmin — bit-identical
    * to the pre-r16 posexplode → broadcast-join-on-dim → N·k-group
    * aggregate → per-id window pipeline (exact decimal sums are
    * order-free), with zero assignment-side exchanges. Keys must be
    * integral (they always were: the output casts the key to long). */
  def nearestCentroid(df: DataFrame, idCol: String, keyCol: String,
      vecCol: String): DataFrame = {
    val rows = meanVectorByKey(df, keyCol, vecCol)
      .select(col(keyCol).cast("long").as("_ckey"), col("dim"), col("mean"))
      .collect()
    // ascending key order = the window's (dist2, key) tie-break: the
    // first-min argmin lands on the smallest key among exact ties
    val byKey = rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
    // fail fast on inputs the array reconstruction would silently
    // corrupt (r16 ADVICE): distinct keys colliding after the long cast
    // would merge two centroids into one array, and uneven dim coverage
    // across keys would index past cents(0).length inside the codegen'd
    // argmin. Both are caller contract violations, not data states.
    require(rows.length ==
        rows.map(r => (r.getLong(0), r.getInt(1))).distinct.length,
      "centroid keys collide after cast('long'): two distinct group keys " +
        "map to one long, which would silently overwrite array slots")
    val dimSets = byKey.map(_._2.map(_.getInt(1)).sorted.toSeq)
    require(dimSets.distinct.size <= 1,
      s"uneven centroid dim coverage across keys: ${dimSets.map(_.length).distinct}")
    val keys = byKey.map(_._1)
    val cents = byKey.map { case (_, rs) =>
      val arr = new Array[Double](rs.map(_.getInt(1)).max + 1)
      rs.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
      arr
    }.toArray
    val best = graft.functions.VectorFunctions.nearestCentroidDecimal(
      col(vecCol).cast("array<double>"), cents)
    df.withColumn("_best", best)
      .where(col("_best").isNotNull)
      .select(col(idCol),
        element_at(typedLit(keys),
          col("_best").getField("cluster").cast("int") + 1).as("assigned"),
        col("_best").getField("dist2").as("dist2"))
  }

  /** The ±1 sign for projection cell (i, j): +1 when the first hex digit
    * of md5("i:j") is 0-7, else -1 — the engine-portable coin flip (the
    * oracle rebuilds the identical matrix with SQL `md5`). */
  private def mdSign(i: Int, j: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$i:$j".getBytes("UTF-8"))
    if ((d(0) & 0x80) == 0) 1.0 else -1.0
  }

  /** Random sign projection (Achlioptas 2003 database-friendly JL
    * projection): each of the `k` output dims is a ±1-weighted sum over
    * the input vector, signs drawn from the md5-derived deterministic
    * matrix above. The workhorse cheap dimensionality reduction for
    * embedding pipelines — distance-preserving in expectation, and the
    * usual prefilter stage ahead of exact reranking.
    *
    * Scale shape: the k×d sign matrix materializes DRIVER-side once and
    * enters the plan as array literals, so the projection is a row-local
    * whole-stage-codegen'd map — zero shuffle, zero state, no per-row
    * hashing. Output is the flat (id, dim, p) frame, 6-dp rounded
    * sequential folds (same IEEE order as the oracle's list_sum). */
  def signProjection(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val d = df.select(size(col(vecCol))).head.getInt(0)
    val v = col(vecCol).cast("array<double>")
    val projs = (0 until k).map { j =>
      val signs = Array.tabulate(d)(i => mdSign(i, j))
      struct(lit(j).as("dim"),
        round(dot(v, typedLit(signs.toSeq)), 6).as("p"))
    }
    df.select(col(idCol), explode(array(projs: _*)).as("_pr"))
      .select(col(idCol), col("_pr.dim").as("dim"), col("_pr.p").as("p"))
  }

  /** Symmetric per-vector int8 quantization — the storage/serving
    * compression step for an embedding corpus (scale = max|x|/127,
    * q_i = floor(x_i/scale + 0.5)). Row-local codegen'd array
    * expressions only: no shuffle, no state, scales linearly with the
    * corpus. Half-up rounding is written explicitly as floor(x + 0.5)
    * (not `round`) so the oracle replays the identical IEEE op
    * sequence. Emits per-vector audit stats instead of the raw int
    * array: `q_sum`/`q_l1` pin every quantized element through exact
    * integer aggregates, `max_abs_err` pins the reconstruction-error
    * bound (≤ scale/2 by construction) at 6 dp. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // STAGED projections, not one select: higher-order functions run
    // interpreted (outside whole-stage codegen), so a shared Scala `val`
    // would re-evaluate its whole expression tree at every reference —
    // scale (an O(d) array_max) inside a per-element lambda made the
    // original single-select form O(d²) per row per consumer (measured
    // 5.5 s on 2000×64 at sf0.1; ~0.3 s staged). As aliased columns the
    // values materialize once per row, and CollapseProject keeps the
    // stages apart because _q is expensive and referenced three times.
    val staged = df
      .select(col(idCol), col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_scale",
        array_max(transform(col("_v"), x => abs(x))) / 127.0)
      .withColumn("_q", when(col("_scale") === 0.0,
          transform(col("_v"), _ => lit(0L)))
        .otherwise(transform(col("_v"), x =>
          floor(x / col("_scale") + 0.5).cast("long"))))
    staged.select(col(idCol),
      round(col("_scale"), 6).as("qscale"),
      aggregate(col("_q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
      aggregate(col("_q"), lit(0L), (acc, x) => acc + abs(x)).as("q_l1"),
      round(array_max(zip_with(col("_v"), col("_q"),
        (x, qi) => abs(x - qi * col("_scale")))), 6).as("max_abs_err"))
  }

  /** Brute-force cosine top-k: for each query vector, the k most similar
    * non-identical candidates. The query side is broadcast (queries are
    * few); the candidate scan streams — at cluster scale this is one pass
    * over the corpus with no shuffle except the final per-query top-k,
    * which `rank <= k` reduces to k rows per query before the sort. */
  def cosineTopK(candidates: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, roundScale: Int = RoundScale): DataFrame = {
    // norms once per vector (not per pair); dot/(nq*nc) is the identical
    // IEEE op sequence to cosine(q, c), just with the norms hoisted.
    // cache() forces a materialization boundary — otherwise CollapseProject
    // folds the norm into the post-join projection and recomputes it per
    // pair (observed 3× dot work in the executed plan)
    // repartition: a single-file corpus otherwise scans as ONE task and the
    // whole scoring pass runs on one core
    val c = asDouble(candidates, vecCol).withColumn("_cn", norm(col(vecCol)))
      .repartition(col(idCol)).cache()
    val q = asDouble(queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        norm(col(vecCol)).as("_qn"))
    val scored = c.crossJoin(broadcast(q))
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("candidate_id"),
        round(dot(col("qvec"), col(vecCol)) / (col("_qn") * col("_cn")),
          roundScale).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("candidate_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** MSB-first sign-bit packing of 32 consecutive embedding dimensions
    * [lo, lo+32) into one long: an acc-doubling integer fold (acc·2 +
    * [x ≥ 0]) — exact integer arithmetic, portable to any engine as a
    * sum of powers of two. Two halves cover a 64-dim embedding; the
    * sign pattern of a vector is its 1-bit quantization (Charikar 2002
    * SimHash applied to the identity projection). */
  def signBitHalf(vec: Column, lo: Int): Column =
    aggregate(sequence(lit(lo), lit(lo + 31)), lit(0L),
      (acc, i) => acc * 2 + when(element_at(vec, (i + 1).cast("int")) >= 0.0, 1L)
        .otherwise(0L))

  /** Hamming top-k over 1-bit-quantized embeddings: pack each vector's
    * sign pattern into two 32-bit code halves, then rank candidates per
    * query by popcount of the XOR — the binary-code ANN baseline (64×
    * smaller than the float vectors, distance = 2 codegen'd integer ops
    * per pair instead of a 64-term dot product). Same scan shape as
    * [[cosineTopK]]: queries broadcast, ONE corpus pass, per-query top-k
    * cut to k rows before the final sort; at 100 TB the packed codes are
    * the only thing read (a 16-byte column instead of 256), and the
    * multi-index Hamming trick (split codes into bands, candidate-probe
    * buckets with band-distance 0) bolts on in front of the same scorer.
    * Distances are small exact integers — no rounding, no ties beyond
    * the deterministic candidate_id break. */
  def hammingTopK(candidates: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    def packed(df: DataFrame, idAs: String, p: String) =
      df.select(col(idCol).cast("long").as(idAs),
        signBitHalf(col(vecCol), 0).as(p + "0"),
        signBitHalf(col(vecCol), 32).as(p + "1"))
    val c = packed(candidates, "candidate_id", "cb")
    val q = packed(queries, "query_id", "qb")
    val scored = c.crossJoin(broadcast(q))
      .where(col("candidate_id") =!= col("query_id"))
      .select(col("query_id"), col("candidate_id"),
        (bit_count(col("qb0").bitwiseXOR(col("cb0"))) +
          bit_count(col("qb1").bitwiseXOR(col("cb1")))).cast("long")
          .as("hamming"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("candidate_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "candidate_id", "hamming")
  }

  /** Brute-force global top-N most similar pairs (a < b).
    *
    * Pair generation is a block-partitioned EQUI-join, not a θ-join: ids
    * hash into B blocks, the B(B+1)/2 unordered block pairs drive two hash
    * joins, and each unordered id pair surfaces exactly once (cross-block
    * pairs once by construction; same-block pairs deduped by id order).
    * Unlike `a JOIN b ON id_a < id_b` — a nested-loop join that degrades
    * to few, uneven tasks — this stays in codegen'd hash-join machinery
    * with B(B+1)/2-way parallelism and uniform task sizes, which is also
    * the shape that scales out. Cosine is symmetric bit-exactly (products
    * commute, summation order equal), so canonicalizing id order after the
    * join does not change values. */
  def topPairs(df: DataFrame, idCol: String, vecCol: String,
      topN: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // cache: materialization boundary so per-vector norms aren't collapsed
    // into the per-pair projection
    val d = asDouble(df, vecCol).withColumn("_n", norm(col(vecCol))).cache()
    val blockPairs = broadcast(
      (for { i <- 0 until PairBlocks; j <- i until PairBlocks } yield (i, j))
        .toDF("_ba", "_bb"))
    val a = d.select(col(idCol).as("id_a"), col(vecCol).as("va"), col("_n").as("_na"))
      .withColumn("_ba", pmod(xxhash64(col("id_a")), lit(PairBlocks.toLong)).cast("int"))
    val b = d.select(col(idCol).as("id_b"), col(vecCol).as("vb"), col("_n").as("_nb"))
      .withColumn("_bb", pmod(xxhash64(col("id_b")), lit(PairBlocks.toLong)).cast("int"))
    a.join(blockPairs, Seq("_ba"))
      .join(b, Seq("_bb"))
      .where(col("_ba") < col("_bb") || col("id_a") < col("id_b"))
      .select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        round(dot(col("va"), col("vb")) / (col("_na") * col("_nb")),
          RoundScale).as("cosine"))
      .orderBy(col("cosine").desc, col("id_a"), col("id_b"))
      .limit(topN)
  }

  /** Global top-N most-similar pairs via LSH candidates + exact verify —
    * the SCALE path for near-dup pair mining, replacing [[topPairs]]'
    * all-pairs work with banded sign-LSH candidate generation
    * ([[lshBucketedPairs]]), exact cosine verification of candidates
    * only, and a global top-N cut.
    *
    * Contract: complete for pairs with cosine >= `minCosine` when
    * (bits, bands) are sized for that threshold — near-dup pairs
    * (cosine >= 0.9, collision prob per band p^bits with
    * p = 1 − θ/π >= 0.9) are recovered with probability
    * 1 − (1 − p^bits)^bands, driven to ~1 with tens of bands at
    * per-band bucket occupancy O(1); exact duplicates collide in EVERY
    * band (identical signatures), so duplicate recovery is
    * deterministic. Pairs below the threshold are out of scope BY
    * DEFINITION, and that is not a parameter-tuning gap but information
    * theory: on near-orthogonal corpora (this repo's embeddings fixture:
    * top-20 pair cosines 0.44–0.51) recovering the global top-N needs
    * more LSH candidate work than the all-pairs scan — measured: the
    * fixture's 20th pair at cosine 0.443 gives p = 0.646, so even
    * 4-bit/52-band amplification (miss < 5e-5) generates ~3.3× MORE
    * candidate pairs than brute force at n = 500, and the ratio worsens
    * with n. Global top-N at unrestricted similarity is inherently
    * quadratic; above a duplicate-like threshold this path is the one
    * that survives 100×. */
  def topPairsLsh(df: DataFrame, idCol: String, vecCol: String, topN: Int,
      minCosine: Double, bits: Int = 16, bands: Int = 32): DataFrame =
    lshBucketedPairs(df, idCol, vecCol, minCosine, bits, bands)
      .orderBy(col("cosine").desc, col("id_a"), col("id_b"))
      .limit(topN)

  /** Banded sign-LSH pair search (AND-OR amplification): `bands`
    * independent `bits`-bit signatures per vector; any shared
    * (band, signature) bucket makes a candidate pair, verified with the
    * exact cosine. The scale knobs are orthogonal — `bits` bounds bucket
    * size (choose ≈ log2(n) + slack so expected occupancy stays O(1):
    * bucket count 2^bits ≫ the r1 single-signature 256), `bands` buys
    * recall back (P[candidate] = 1 − (1 − p^bits)^bands, p = 1 − θ/π).
    * Shuffle is on short (band, sig) keys; verification touches only
    * colliding pairs; multi-band duplicates collapse in the final
    * distinct. */
  def lshBucketedPairs(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, bits: Int = 12, bands: Int = 8): DataFrame = {
    val d = asDouble(df, vecCol).withColumn("_n", norm(col(vecCol)))
    val sigs = d.select(col(idCol), col(vecCol), col("_n"),
        posexplode(array((0 until bands).map(b =>
          graft.functions.VectorFunctions
            .hyperplaneSig(col(vecCol), bits, b.toLong)): _*)))
      .toDF(idCol, vecCol, "_n", "band", "sig")
    sigs.as("a").join(sigs.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        round(dot(col(s"a.$vecCol"), col(s"b.$vecCol")) /
          (col("a._n") * col("b._n")), RoundScale).as("cosine"))
      .where(col("cosine") >= minCosine)
      .distinct()
  }

  /** Argmin-centroid assignment as a pure projection — no crossJoin, no
    * window, no shuffle (the r1 formulation shuffled the corpus on its
    * unique row id for a per-row row_number). Native codegen'd expression
    * with (score asc, list asc) tie semantics, bit-identical to the
    * `element_at(array_sort(centScores), 1)` HOF it replaced (ExtSpec
    * pins the equality) — the lambda wrapper evaluated interpreted per
    * row × centroid on every assignment pass. */
  def nearestList(vec: Column, cents: Array[Array[Double]]): Column =
    element_at(
      graft.functions.VectorFunctions.nearestLists(vec, cents, 1), 1)

  /** The query-side variant: the `nProbe` nearest list ids (ascending
    * (score, list)). */
  def nearestLists(vec: Column, cents: Array[Array[Double]], nProbe: Int): Column =
    graft.functions.VectorFunctions.nearestLists(vec, cents, nProbe)

  /** k-means over the embedding column, 100 TB-shaped: deterministic
    * distributed-TakeOrdered seeding (k rows in xxhash64(id) order via
    * orderBy+limit — per-partition top-k then a k-row driver merge; the r1
    * global-window seed funnelled the whole corpus through one task), then
    * `iters` rounds of shuffle-free argmin assignment ([[nearestList]]
    * over the broadcast centroid literal) + per-dimension mean recompute
    * (one hash aggregate on (list, dim) with exact decimal partials, so
    * centroids are bit-identical under any partitioning). Only k·dims
    * aggregate rows ever reach the driver per iteration. Lists that lose
    * all members keep their previous centroid. */
  private[graft] def learnCentroidArrays(df: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int): Array[Array[Double]] = {
    val spark = df.sparkSession
    import spark.implicits._
    val d = asDouble(df, vecCol)
      .select(col(idCol).as("_id"), col(vecCol).as("_v")).cache()
    try {
      var cents: Array[Array[Double]] = d
        .orderBy(xxhash64(col("_id")), col("_id")).limit(k)
        .select(col("_v")).collect()
        .map(_.getSeq[Double](0).toArray)
      // Training iterations as per-partition partial aggregation (the
      // canonical distributed k-means shape, and genuine per-partition
      // imperative logic): each partition computes local per-list
      // (Σ value, count) partials over the broadcast centroids and emits ONE
      // row — no shuffle, no per-iteration literal-centroid plans (a
      // DataFrame formulation re-embeds the centroids as literals every
      // iteration, forcing a fresh analyze+codegen cycle each time —
      // measured as the dominant cost of the whole operator). Partials are
      // EXACT BigDecimal sums (binary doubles are exact decimals), so the
      // learned centroids are bit-identical under any partitioning, like
      // the detMean discipline everywhere else.
      val vecs = d.select(col("_v")).as[Seq[Double]]
      var it = 0
      while (it < iters) {
        val bc = spark.sparkContext.broadcast(cents)
        try {
          val partials = vecs.mapPartitions { rows =>
            val cs = bc.value
            val kk = cs.length
            val dims = if (kk > 0) cs(0).length else 0
            val cc = cs.map(c => { var a = 0.0; var i = 0
              while (i < c.length) { a += c(i) * c(i); i += 1 }; a })
            val sums = Array.fill(kk, dims)(java.math.BigDecimal.ZERO)
            val counts = new Array[Long](kk)
            rows.foreach { v =>
              // argmin c·c − 2 v·c, ties to the lowest list id — identical to
              // the declarative nearestList fold
              var best = 0; var bestScore = Double.MaxValue
              var l = 0
              while (l < kk) {
                var dot = 0.0; var i = 0
                val c = cs(l)
                while (i < dims) { dot += v(i) * c(i); i += 1 }
                val score = cc(l) - 2.0 * dot
                if (score < bestScore) { best = l; bestScore = score }
                l += 1
              }
              counts(best) += 1
              var i = 0
              while (i < dims) {
                sums(best)(i) =
                  sums(best)(i).add(new java.math.BigDecimal(v(i)))
                i += 1
              }
            }
            Iterator.single((sums.map(_.map(_.toString)), counts))
          }.collect()
          val next = cents.map(_.clone())
          val dims = if (cents.nonEmpty) cents(0).length else 0
          var l = 0
          while (l < cents.length) {
            var n = 0L
            partials.foreach { case (_, cnt) => n += cnt(l) }
            if (n > 0) {
              var i = 0
              while (i < dims) {
                var acc = java.math.BigDecimal.ZERO
                partials.foreach { case (sm, _) =>
                  acc = acc.add(new java.math.BigDecimal(sm(l)(i))) }
                next(l)(i) = acc.doubleValue() / n
                i += 1
              }
            } // empty lists keep their previous centroid
            l += 1
          }
          cents = next
        } finally bc.destroy()
        it += 1
      }
      cents
    } finally { d.unpersist(): Unit }
  }

  /** IVF top-k with learned centroids: build the k-means index, assign the
    * corpus in one shuffle-free projection pass, probe each query's
    * `nProbe` nearest lists. Scan fraction ≈ nProbe/nLists; the only
    * shuffles left are the (broadcast) probe join and the final per-query
    * top-k. */
  def ivfTopKLearned(candidates: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nLists: Int = 16, nProbe: Int = 4,
      precomputedCents: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents = precomputedCents.getOrElse(
      learnCentroidArrays(candidates, idCol, vecCol, nLists, IvfIters))
    val c = asDouble(candidates, vecCol)
      .withColumn("_cn", norm(col(vecCol)))
      .withColumn("list", nearestList(col(vecCol), cents))
    val qProbes = asDouble(queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        norm(col(vecCol)).as("_qn"),
        explode(nearestLists(col(vecCol), cents, nProbe)).as("list"))
    val scored = c.join(broadcast(qProbes), Seq("list"))
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("candidate_id"),
        round(dot(col("qvec"), col(vecCol)) / (col("_qn") * col("_cn")),
          RoundScale).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("candidate_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  // ---------------------------------------------- exact pruned search
  //
  // IVF probing with a RECALL GUARANTEE: cosine top-k over unit-normalized
  // vectors is L2 top-k on the sphere (‖q̂−x̂‖² = 2(1−cos)), and L2 is a
  // metric — so a probe can PROVE it saw every possible winner via the
  // triangle inequality instead of trading recall for scan fraction.
  // For a list L with (unit-normalized) anchor â_L and radius
  // r_L = max_{x∈L} ‖x̂−â_L‖, every member satisfies
  // ‖q̂−x̂‖ ≥ ‖q̂−â_L‖ − r_L. Phase 1 probes the nProbe nearest lists and
  // takes its kth-best cosine as the cut; phase 2 scans ONLY the lists
  // whose bound admits a better candidate. The declared output is
  // therefore the brute-force top-k BIT-FOR-BIT (a DuckDB brute-force
  // oracle hash-matches it) while the scan stays pruned wherever the
  // corpus actually clusters; on adversarial uniform data the bound
  // degrades gracefully toward a full scan — the honest cost of an exact
  // answer (same bounding principle as Elkan ICML'03 / FLANN's exact
  // mode; public algorithm).

  /** Unit-normalized list anchors for the pruning bound. A zero centroid
    * (possible only for a list that never owned a member) keeps a zero
    * anchor; paired with the radius default below it never prunes. */
  private def unitAnchors(cents: Array[Array[Double]]): Array[Array[Double]] =
    cents.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0.0) c.clone() else c.map(_ / n)
    }

  /** ‖v̂ − â‖ via 2(1−cos): both operands are unit, so the distance needs
    * one native dot, not a per-element normalize (stays in whole-stage
    * codegen). `n` is ‖v‖ precomputed. */
  private def unitDist(vec: Column, n: Column, anchor: Column): Column =
    sqrt(greatest(lit(0.0), lit(2.0) * (lit(1.0) - dot(vec, anchor) / n)))

  /** Per-list pruning radii r_L = max_{x∈L} ‖x̂ − â_L‖ — index metadata
    * (one aggregate pass, computed once per trained index and cached by
    * the caller alongside the centroids; at scale this is written at
    * index-build time exactly like [[buildIvfPqIndex]] does). Lists with
    * no members are absent from the map; callers default them to 2.0
    * (the sphere's diameter — no pruning), which is only pessimistic for
    * a list nothing is assigned to anyway. */
  def listRadii(candidates: DataFrame, vecCol: String,
      cents: Array[Array[Double]]): Map[Int, Double] =
    listRadiiAssigned(
      asDouble(candidates, vecCol)
        .withColumn("list", nearestList(col(vecCol), cents)),
      vecCol, cents)

  /** [[listRadii]] over a frame that ALREADY carries its `list`
    * assignment — index builds/appends have paid the nLists×dims argmin
    * once and must not pay it again for the radii pass (r10 review). */
  def listRadiiAssigned(assigned: DataFrame, vecCol: String,
      cents: Array[Array[Double]]): Map[Int, Double] = {
    val anchors = unitAnchors(cents)
    val anchorArr = array(anchors.map(a => array(a.map(lit): _*)): _*)
    assigned
      .withColumn("_rcn", norm(col(vecCol).cast("array<double>")))
      .select(col("list"), unitDist(col(vecCol).cast("array<double>"),
        col("_rcn"), element_at(anchorArr, col("list") + 1)).as("_r"))
      .groupBy(col("list")).agg(max(col("_r")).as("r"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
  }

  /** The per-query pruning threshold τ from the kth-best ROUNDED cosine
    * found so far: any vector with true distance > τ has rounded cosine
    * strictly below the cut, so it cannot enter the top-k. The 4e-6
    * slack on d² covers the 6-dp rounding granularity (1e-6 in cosine =
    * 2e-6 in d²) twice over plus IEEE noise; queries with no (or under
    * k) phase-1 candidates get τ = 2.1 > diameter — scan everything. */
  private def tauCol(coskCol: Column): Column =
    when(coskCol.isNull, lit(2.1))
      .otherwise(sqrt(greatest(lit(0.0),
        lit(2.0) * (lit(1.0) - coskCol) + lit(4e-6))))

  /** EXACT cosine top-k through an IVF probe with triangle-inequality
    * completeness (header note above): probe `nProbe` lists, bound the
    * rest, scan only the lists the bound cannot exclude. Identical
    * scoring op sequence and (cosine desc, candidate_id) tie-break as
    * [[cosineTopK]], so the result IS brute-force top-k for ANY centroid
    * quality — centroids affect only how much phase 2 scans. */
  def ivfTopKExact(candidates: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int, cents: Array[Array[Double]],
      precomputedRadii: Option[Map[Int, Double]] = None): DataFrame = {
    val radii = precomputedRadii.getOrElse(
      listRadii(candidates, vecCol, cents))
    val anchors = unitAnchors(cents)
    val anchorArr = array(anchors.map(a => array(a.map(lit): _*)): _*)
    val c = asDouble(candidates, vecCol)
      .withColumn("_cn", norm(col(vecCol)))
      .withColumn("list", nearestList(col(vecCol), cents))
    val qn = asDouble(queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        norm(col(vecCol)).as("_qn"))
    val qProbes = qn.withColumn("list",
      explode(nearestLists(col("qvec"), cents, nProbe)))
    def score(base: DataFrame): DataFrame = base
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("candidate_id"),
        round(dot(col("qvec"), col(vecCol)) / (col("_qn") * col("_cn")),
          RoundScale).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("candidate_id"))
    // phase 1: the ordinary probe. Only its top-k survives into the
    // final merge (rows below rank k can never rise — phase 2 only adds
    // candidates), so the checkpointed frame is k·|queries| rows, NOT
    // the probe scan: one corpus pass feeds both the cut and the merge.
    val p1top = score(c.join(broadcast(qProbes), Seq("list")))
      .withColumn("_rk", row_number().over(w)).where(col("_rk") <= k)
      .drop("_rk")
      .transform(Pin.pin)
    val kth = p1top.groupBy(col("query_id"))
      .agg(min(col("cosine")).as("_cosk"), count(lit(1)).as("_nk"))
      .select(col("query_id"),
        when(col("_nk") === k, col("_cosk")).as("_cosk"))
    // phase 2: (query × list) bound table — |queries|·nLists rows,
    // bounded by the index, never the corpus. left_anti drops the pairs
    // phase 1 already scanned.
    val spark = candidates.sparkSession
    import spark.implicits._
    val rl = (0 until cents.length)
      .map(l => (l, radii.getOrElse(l, 2.0))).toDF("list", "_rr")
    val extraPairs = qn.join(broadcast(kth), Seq("query_id"), "left")
      .withColumn("_tau", tauCol(col("_cosk")))
      .crossJoin(broadcast(rl))
      .where(unitDist(col("qvec"), col("_qn"),
        element_at(anchorArr, col("list") + 1)) <= col("_tau") + col("_rr"))
      .join(qProbes.select(col("query_id"), col("list")),
        Seq("query_id", "list"), "left_anti")
      .select(col("query_id"), col("qvec"), col("_qn"), col("list"))
    val p2 = score(c.join(broadcast(extraPairs), Seq("list")))
    p1top.unionByName(p2)
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Persist a trained IVF index. The layout under `path`:
    *  - `centroids.json`: nLists×dims doubles;
    *  - `corpus/`: parquet PARTITIONED BY list, norms precomputed (`_n`);
    *  - `schema.json`: the corpus schema, taken from the analysed frame
    *    being written (no read-back, no job), so every later corpus read
    *    ([[readIvfCorpus]]) skips parquet schema inference.
    * Train once, probe many — the index build amortizes the k-means cost,
    * and the partitioned layout is what makes the index real at 100 TB: a
    * probe reads only the probed lists' directories (static partition
    * pruning), i.e. ~nProbe/nLists of the BYTES on disk, not just of the
    * in-memory comparisons. */
  def buildIvfIndex(candidates: DataFrame, idCol: String, vecCol: String,
      path: String, nLists: Int = 16, iters: Int = IvfIters): Unit = {
    val spark = candidates.sparkSession
    val cents = learnCentroidArrays(candidates, idCol, vecCol, nLists, iters)
    writeIvfCorpus(asDouble(candidates, vecCol)
      .withColumn("_n", norm(col(vecCol)))
      .withColumn("list", nearestList(col(vecCol), cents)), path)
    writeJson(spark, s"$path/centroids.json",
      cents.map(_.mkString("[", ",", "]")).mkString("[", ",", "]"))
  }

  /** Write `corpus` as `<path>/corpus/` partitioned by list and record
    * its schema as `<path>/schema.json`. Parquet moves the partition
    * column last, so the recorded schema does too. */
  private def writeIvfCorpus(corpus: DataFrame, path: String): Unit = {
    corpus.write.mode("overwrite").partitionBy("list").parquet(s"$path/corpus")
    val (list, data) = corpus.schema.fields.partition(_.name == "list")
    writeJson(corpus.sparkSession, s"$path/schema.json",
      org.apache.spark.sql.types.StructType(data ++ list).json)
  }

  /** The `<path>/corpus/` frame of a persisted IVF index, read with the
    * schema recorded at build time: no parquet footer job. An index
    * without `schema.json` (built before the schema was recorded) falls
    * back to the inferred read. Appends, compaction and retrain keep the
    * build's columns, so the recorded schema stays valid across them. */
  private[graft] def readIvfCorpus(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$path/schema.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val reader =
      if (fs.exists(p)) spark.read.schema(
        org.apache.spark.sql.types.DataType.fromJson(readText(spark, p))
          .asInstanceOf[org.apache.spark.sql.types.StructType])
      else spark.read
    reader.parquet(s"$path/corpus")
  }

  /** Distance of a vector to its assigned list's centroid (row-local:
    * the centroid matrix rides as a literal, ≤ nLists·dims doubles). */
  private def distToCentroid(v: Column, list: Column,
      cents: Array[Array[Double]]): Column = {
    val centArr = array(cents.map(c => array(c.map(lit): _*)): _*)
    val c = element_at(centArr, list + 1)
    sqrt(aggregate(zip_with(v, c, (x, y) => (x - y) * (x - y)),
      lit(0.0), (a, x) => a + x))
  }

  /** Index-lifecycle stats returned by [[ivfAppend]]: the centroid-drift
    * signal a growing corpus needs. `meanDistAfter` creeping above
    * `meanDistBefore` means the appended data no longer matches the
    * trained centroids — time to retrain (rebuild) the index.
    *
    * == Retrain threshold (the documented contract, measured by the
    * ivfdrift tier) ==
    * Rebuild when ANY of: the post-append mean distance exceeds 1.5×
    * the BUILD-time mean (this stat, the cheap online signal — no
    * probe needed); plain-probe recall@k on fresh-data queries drops
    * below 0.9; or the exact probe's bound-admitted scan fraction
    * exceeds 2× its build-time value (drifted appends inflate list
    * radii, so the guaranteed-exact path pays a growing scan even
    * though its results stay exact). The ScaleSmoke `ivfdrift` tier
    * appends 4× the build corpus in progressively-drifted waves,
    * records all three per wave, and shows a rebuild on the grown
    * corpus restores them. */
  final case class IvfAppendStats(nBefore: Long, nAppended: Long,
      meanDistBefore: Double, meanDistAfter: Double) {
    def driftRatio: Double =
      if (meanDistBefore == 0.0) Double.PositiveInfinity
      else meanDistAfter / meanDistBefore
  }

  /** Append vectors to a persisted IVF index WITHOUT retraining: assign
    * them with the stored centroids (so probe semantics are unchanged —
    * probing after append ≡ probing an index whose corpus always
    * contained the rows, bit-exactly) and write into the existing list
    * partitions (`mode=append` adds files inside each `list=` directory;
    * static partition pruning keeps working). Returns before/after
    * mean-distance-to-centroid as the drift signal; distances aggregate
    * through exact decimal sums so the stat is partition-count invariant.
    *
    * At 100 TB this is the operation that makes the index an INDEX: the
    * corpus pass and k-means training are paid once; growth costs one
    * assignment projection over the new rows only. */
  def ivfAppend(spark: org.apache.spark.sql.SparkSession, path: String,
      newVectors: DataFrame, vecCol: String): IvfAppendStats = {
    recoverCorpus(spark, path)
    val cents = loadIvfCentroids(spark, path)
    def meanDist(corpus: DataFrame): (Long, Double) = {
      val r = corpus
        .select(distToCentroid(col(vecCol), col("list"), cents).as("_d"))
        .agg(count(lit(1)).as("n"), graft.ops.Resample.detMean(col("_d")).as("m"))
        .head()
      (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
    }
    val corpus = readIvfCorpus(spark, path)
    val (nBefore, distBefore) = meanDist(corpus)
    val assigned = asDouble(newVectors, vecCol)
      .withColumn("_n", norm(col(vecCol)))
      .withColumn("list", nearestList(col(vecCol), cents))
    requireCorpusTypes(corpus, assigned)
    assigned.write.mode("append").partitionBy("list").parquet(s"$path/corpus")
    val (nAfter, distAfter) = meanDist(readIvfCorpus(spark, path))
    IvfAppendStats(nBefore, nAfter - nBefore, distBefore, distAfter)
  }

  /** Appended rows must carry the corpus's types in every column they
    * share with it: the corpus is read with one schema, so a column
    * written under another type would fail (or be misread) at probe time.
    * Columns the corpus lacks are dropped on read, columns the rows lack
    * read as null — as with any parquet table. Driver-side, no job. */
  private def requireCorpusTypes(corpus: DataFrame, rows: DataFrame): Unit = {
    // catalogString leaves nullability out, as a parquet read does
    val types = corpus.schema.fields
      .map(f => f.name -> f.dataType.catalogString).toMap
    rows.schema.fields.foreach { f =>
      val t = f.dataType.catalogString
      types.get(f.name).foreach { want =>
        require(t == want,
          s"appended column ${f.name} is $t, the index corpus has $want")
      }
    }
  }

  /** Centroids of a persisted index. */
  def loadIvfCentroids(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Double]] =
    readJson(spark, s"$path/centroids.json", classOf[Array[Array[Double]]])

  /** Crash recovery for a rename-aside swap of the corpus: a crash
    * between `rename(corpus, corpus_old)` and the promotion of the
    * rewrite leaves the only live corpus stranded under `corpus_old`.
    * Detect that state (corpus missing + corpus_old present) and rename
    * it back, making recovery automatic on the next probe or append
    * instead of a manual restore. Called from every public entry that
    * reads `$path/corpus`. */
  private def recoverCorpus(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(s"$path/corpus")
    val old = new org.apache.hadoop.fs.Path(s"$path/corpus_old")
    val fs = dst.getFileSystem(conf)
    if (!fs.exists(dst) && fs.exists(old)) fs.rename(old, dst)
  }

  /** Per-list drift stats of a persisted IVF index: one aggregate pass
    * emitting ≤ nLists rows of (list, n, mean_dist) — the SELECTION
    * input for [[ivfRetrainDrifted]], exactly the role the z-table
    * manifest plays for [[ZTable.incrementalOptimize]] (cheap metadata
    * that decides which partitions the expensive rewrite touches).
    * Distances aggregate through exact decimal sums, so the stats are
    * partition-count invariant. */
  def ivfListStats(spark: org.apache.spark.sql.SparkSession, path: String,
      vecCol: String): Array[(Int, Long, Double)] = {
    recoverCorpus(spark, path)
    val cents = loadIvfCentroids(spark, path)
    readIvfCorpus(spark, path)
      .select(col("list"),
        distToCentroid(col(vecCol), col("list"), cents).as("_d"))
      .groupBy(col("list"))
      .agg(count(lit(1)).as("n"),
        graft.ops.Resample.detMean(col("_d")).as("m"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
  }

  /** Accounting returned by [[ivfRetrainDrifted]]: which lists were
    * re-clustered, how many rows that touched, and the drifted set's
    * mean distance-to-centroid before/after (the number that proves the
    * retrain helped). `drifted.isEmpty` means no list crossed the bound
    * and NOTHING was read or written. */
  final case class IvfRetrainStats(drifted: Seq[Int], nLists: Int,
      rowsReclustered: Long, meanDriftedBefore: Double,
      meanDriftedAfter: Double)

  /** Retrain-on-drift for a persisted IVF index: re-cluster ONLY the
    * lists whose mean distance-to-centroid exceeds `bound` × the
    * index-wide mean — the [[ZTable.incrementalOptimize]] discipline
    * applied to the ANN index (r15 VERDICT task 5). A 100 TB index
    * cannot be rebuilt because one region of the key space drifted:
    * selection runs on the ≤ nLists [[ivfListStats]] rows, the ONLY
    * data read is the drifted lists' partitions (static pruning), new
    * sub-centroids are trained on those rows alone
    * ([[learnCentroidArrays]], exact-decimal — deterministic under any
    * partitioning), rows are reassigned among them, and the new
    * sub-centroid j takes over the j-th drifted list id, so the list-id
    * space, the untouched lists' files, and centroids.json's shape are
    * all stable.
    *
    * Untouched-partition safety: the rewrite lands in a scratch dir and
    * replaces exactly the drifted `list=` directories (delete + rename
    * per drifted id — NOT a dynamic partition overwrite, which would
    * leave a drifted list's OLD rows alive if no reassigned row landed
    * back on its id). Single-writer / no-concurrent-probe contract.
    *
    * Probe correctness: assignment is metadata for routing, never for
    * scoring — the exhaustive probe (nProbe = nLists) and the
    * bound-complete exact probe return brute-force top-k for ANY
    * centroid quality, so retrain CANNOT change their results (the
    * emb_ivf_drift_retrain oracle pins this); what it changes is the
    * approximate probe's recall and the exact probe's scan fraction,
    * which drift had degraded. */
  def ivfRetrainDrifted(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, vecCol: String, bound: Double = 1.5,
      iters: Int = IvfIters): IvfRetrainStats = {
    val stats = ivfListStats(spark, path, vecCol)
    val nLists = loadIvfCentroids(spark, path).length
    val total = stats.map(_._2).sum
    val globalMean =
      if (total == 0) 0.0
      else stats.map(s => s._2.toDouble * s._3).sum / total
    val drifted = stats.filter(_._3 > bound * globalMean).map(_._1)
    if (drifted.isEmpty)
      return IvfRetrainStats(Nil, nLists, 0L, 0.0, 0.0)
    val dSet = drifted.map(Integer.valueOf).toSeq
    val before = {
      val picked = stats.filter(s => drifted.contains(s._1))
      picked.map(s => s._2.toDouble * s._3).sum / picked.map(_._2).sum
    }
    // the only data read of the whole retrain: the drifted partitions
    val rows = readIvfCorpus(spark, path)
      .where(col("list").isin(dSet: _*))
      .drop("list")
    val newCents = learnCentroidArrays(rows, idCol, vecCol,
      k = drifted.length, iters)
    val idOf = array(drifted.map(i => lit(i)): _*)
    val reassigned = rows
      .withColumn("_sub", nearestList(col(vecCol), newCents))
      .withColumn("list", element_at(idOf, col("_sub") + 1))
      .drop("_sub")
    val tmp = s"$path/corpus_retrain"
    reassigned.write.mode("overwrite").partitionBy("list").parquet(tmp)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(s"$path/corpus")
      .getFileSystem(conf)
    // move each replaced partition ASIDE (outside corpus/, so partition
    // discovery never sees it) before promoting its rewrite: a crash
    // mid-swap leaves every list's rows alive under exactly one of
    // corpus/list=<l> or _retrain_old/list=<l> — never a deleted-and-
    // not-yet-replaced window. Single-writer, no-concurrent-probe
    // contract.
    val aside = new org.apache.hadoop.fs.Path(s"$path/_retrain_old")
    fs.delete(aside, true)
    fs.mkdirs(aside)
    drifted.foreach { l =>
      val dst = new org.apache.hadoop.fs.Path(s"$path/corpus/list=$l")
      val src = new org.apache.hadoop.fs.Path(s"$tmp/list=$l")
      if (fs.exists(dst)) {
        fs.rename(dst, new org.apache.hadoop.fs.Path(s"$path/_retrain_old/list=$l")): Unit
      }
      if (fs.exists(src)) { fs.rename(src, dst): Unit }
    }
    fs.delete(aside, true)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    // centroid slot j of the drifted id list takes the new sub-centroid
    val cents = loadIvfCentroids(spark, path)
    drifted.zipWithIndex.foreach { case (l, j) => cents(l) = newCents(j) }
    writeJson(spark, s"$path/centroids.json",
      cents.map(_.mkString("[", ",", "]")).mkString("[", ",", "]"))
    // post-stat reads the drifted partitions only (pruned, like the
    // rewrite itself — never a full-index pass)
    val after = {
      val r = readIvfCorpus(spark, path)
        .where(col("list").isin(dSet: _*))
        .select(distToCentroid(col(vecCol), col("list"), cents).as("_d"))
        .agg(graft.ops.Resample.detMean(col("_d")).as("m")).head()
      if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    }
    IvfRetrainStats(drifted.toSeq, nLists,
      stats.filter(s => drifted.contains(s._1)).map(_._2).sum, before, after)
  }

  /** Probe a persisted IVF index as ONE Spark job with no shuffle. The
    * probe runs when called and returns a local frame of (query_id,
    * candidate_id, cosine, rank).
    *
    * The query side is collected once as (query_id, qvec, _qn, nearest
    * lists) — no job at all for a driver-built query frame. From it the
    * driver takes the probed list ids (≤ nLists values, bounded by the
    * index, never by the data), applied as an `isin` filter so the
    * parquet scan statically prunes to the probed partitions, and one
    * broadcast `list -> queries` map. Each task scores its corpus rows
    * against the queries that probe the row's list and keeps a bounded
    * top-k per query id ([[ProbeTopK]]); one depth-1 `treeAggregate`
    * merges the partials at the driver, whose state stays O(|Q|·k) on
    * top of the query set it already holds. A query whose list array is
    * null (null vector) or whose id is null probes nothing. The corpus is
    * read with the schema recorded at build ([[readIvfCorpus]]); an older
    * index without `schema.json` falls back to the inferred read.
    *
    * Results equal the relational form bit for bit: a broadcast join on
    * `list`, `id =!= query_id`, `cosine = round(dot(qvec, v) / (_qn·_n),
    * roundScale)` and `row_number()` over `cosine DESC NULLS LAST,
    * candidate_id` per `query_id`, kept to rank ≤ k (ExtSpec keeps that
    * form as the reference). The tasks evaluate that same Catalyst
    * scoring expression, with its null, width, NaN and ANSI
    * divide-by-zero behaviour, and rank with Spark's own ordering (NaN
    * greatest, -0.0 equal to 0.0). Identical results to
    * [[ivfTopKLearned]] for identical centroids. Ids are compared as
    * longs: a query or corpus `idCol` that is not an integral type fails
    * at the driver. */
  def ivfProbeIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 4, roundScale: Int = RoundScale): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.BindReferences
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType,
      ShortType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    recoverCorpus(spark, path)
    val cents = loadIvfCentroids(spark, path)
    val corpus = readIvfCorpus(spark, path)
      .select(col(idCol), col(vecCol), col("_n"), col("list"))
    val q = asDouble(queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        norm(col(vecCol)).as("_qn"),
        nearestLists(col(vecCol), cents, nProbe).as("list"))
    val (qId, cId) = (q.schema("query_id"), corpus.schema(idCol))
    for ((side, t) <- Seq("query" -> qId.dataType, "corpus" -> cId.dataType))
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"ivfProbeIndex: the $side id column $idCol is ${t.simpleString}; " +
          "the probe compares ids as longs and needs an integral type")
    // `id =!= NULL` is NULL: a query without an id matches no candidate
    val rows = q.collect().filterNot(r => r.isNullAt(0) || r.isNullAt(3))
    // the Window partitions by query_id: queries sharing an id share a slot
    val ids = rows.map(_.get(0)).distinct
    val slot = ids.zipWithIndex.toMap
    val qVec = CatalystTypeConverters.createToCatalystConverter(
      StructType(q.schema.fields.slice(1, 3)))
    val byList = rows.toSeq.flatMap { r =>
      val p = new Probe(slot(r.get(0)), r.get(0).asInstanceOf[Number].longValue,
        qVec(Row(r.get(1), r.get(2))).asInstanceOf[InternalRow])
      r.getSeq[Int](3).map(_ -> p)
    }.groupBy(_._1).map { case (l, ps) => l -> ps.map(_._2).toArray }
    // the relational form's cosine, analyzed over (qvec, _qn, corpus row)
    val shape = spark.createDataFrame(java.util.List.of[Row](),
        StructType(q.schema.fields.slice(1, 3) ++ corpus.schema.fields))
      .select(round(dot(col("qvec"), col(vecCol)) / (col("_qn") * col("_n")),
        roundScale)).queryExecution.analyzed
    val score = BindReferences.bindReference(shape.expressions.head,
      shape.children.head.output)
    val zero = new ProbeTopK(k, ids.length, cId.dataType, score)
    val top =
      if (byList.isEmpty) zero
      else {
        val bc = spark.sparkContext.broadcast(byList)
        try corpus.where(col("list").isin(byList.keys.toSeq.sorted: _*))
          .queryExecution.toRdd
          .treeAggregate(zero)((acc, row) => acc.add(row, bc.value),
            (a, b) => a.merge(b), depth = 1)
        finally bc.destroy()
      }
    val out = ids.indices.flatMap { s =>
      top.ranked(s).zipWithIndex.map { case (c, i) =>
        Row(ids(s), c.get(1, cId.dataType),
          if (c.isNullAt(0)) null else c.getDouble(0), i + 1)
      }
    }
    spark.createDataFrame(out.asJava, StructType(Seq(
      StructField("query_id", qId.dataType, qId.nullable),
      StructField("candidate_id", cId.dataType, cId.nullable),
      StructField("cosine", DoubleType),
      StructField("rank", IntegerType, nullable = false))))
  }

  /** One query's probe of a list: its top-k slot, its id as a long and
    * its (qvec, _qn) row. */
  private final class Probe(val slot: Int, val id: Long,
      val vec: InternalRow) extends Serializable

  /** Per-query top-k of an index probe: (cosine, candidate id) rows, cut
    * to the k best under `cosine DESC NULLS LAST, candidate_id ASC` with
    * Spark's ordering. `add` scores one corpus row (id, vec, _n, list)
    * with the bound `score` expression against every probe of its list;
    * candidates whose id equals the query's, or is null, are skipped
    * before scoring, as the relational filter drops them before its
    * projection. Rows tied on both keys are identical apart from their
    * rank, so the cut keeps the result deterministic. */
  private final class ProbeTopK(k: Int, slots: Int, idType: DataType,
      score: Expression) extends Serializable {
    private val best = Array.fill(slots)(ArrayBuffer.empty[InternalRow])
    @transient private lazy val proj = MutableProjection.create(Seq(score))
    @transient private lazy val joined = new JoinedRow
    @transient private lazy val ordering: Ordering[InternalRow] =
      new InterpretedOrdering(Seq(
        SortOrder(BoundReference(0, DoubleType, nullable = true), Descending),
        SortOrder(BoundReference(1, idType, nullable = true), Ascending)))

    def add(row: InternalRow, byList: Map[Int, Array[Probe]]): ProbeTopK = {
      if (!row.isNullAt(0)) {
        val id = row.get(0, idType)
        val idL = id.asInstanceOf[Number].longValue
        for (p <- byList(row.getInt(3)) if p.id != idL) {
          val s = proj(joined(p.vec, row))
          keep(p.slot, new GenericInternalRow(Array[Any](
            if (s.isNullAt(0)) null else s.getDouble(0), id)))
        }
      }
      this
    }

    private def keep(s: Int, c: InternalRow): Unit = {
      best(s) += c
      if (best(s).length >= math.max(2 * k, 64)) best(s) = ranked(s)
    }

    def ranked(s: Int): ArrayBuffer[InternalRow] =
      best(s).sorted(ordering).take(k)

    def merge(o: ProbeTopK): ProbeTopK = {
      for (s <- 0 until slots) { o.best(s).foreach(keep(s, _)) }
      this
    }
  }

  // ------------------------------------------------------- IVF-PQ index

  /** Build a PQ-compressed persisted IVF index: IVF centroids route
    * probes exactly like [[buildIvfIndex]], but the corpus stores only
    * `m` small-codebook codes per vector (plus the reconstruction norm)
    * instead of the float vector — at 64 dims / 8 subspaces that is
    * ~32× fewer scan bytes, which is the number that matters when the
    * corpus is 100 TB: a probe reads nProbe/nLists of the PARTITIONS and
    * 1/32 of the BYTES within them. Scoring is asymmetric-distance
    * (ADC): dot(query, per-subspace reconstruction), cosine against the
    * reconstruction norm. Codebooks are per-subspace k-means trained
    * with the same exact-decimal partial aggregation as the IVF
    * centroids (partitioning-independent), stored as
    * `<path>/codebooks.json`.
    * Ref: Jégou, Douze, Schmid — "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011 (public algorithm). */
  def buildIvfPqIndex(candidates: DataFrame, idCol: String, vecCol: String,
      path: String, nLists: Int = 16, m: Int = 8, pqK: Int = 256,
      iters: Int = IvfIters): Unit = {
    val spark = candidates.sparkSession
    val d = asDouble(candidates, vecCol).cache()
    try {
      val dims = d.select(size(col(vecCol))).head().getInt(0)
      require(dims % m == 0, s"dims=$dims must split into m=$m subspaces")
      val w = dims / m
      val cents = learnCentroidArrays(d, idCol, vecCol, nLists, iters)
      val codebooks: Array[Array[Array[Double]]] = (0 until m).map { i =>
        learnCentroidArrays(
          d.select(col(idCol), slice(col(vecCol), i * w + 1, w).as(vecCol)),
          idCol, vecCol, pqK, iters)
      }.toArray
      val assigned = d.withColumn("list", nearestList(col(vecCol), cents)).cache()
      // `_e` = ‖x̂ − x̃^‖, the NORMALIZED-space reconstruction error of
      // each point (x̃ = its PQ reconstruction): the per-point bound the
      // exact probe ([[ivfPqProbeExact]]) needs — true distance
      // ‖q̂−x̂‖ ≥ ADC distance − _e. cos(x, x̃) reuses the native ADC
      // expression with the vector itself as the query.
      withPqCodes(assigned, vecCol, codebooks)
        .withColumn("_n", norm(col(vecCol)))
        .withColumn("_e", sqrt(greatest(lit(0.0), lit(2.0) * (lit(1.0) -
          graft.functions.VectorFunctions.pqAdcDot(
            col(vecCol), col("codes"), codebooks) /
            (col("_n") * col("_rn"))))))
        .select(col(idCol), col("codes"), col("_rn"), col("_e"), col("list"))
        .write.mode("overwrite").partitionBy("list").parquet(s"$path/corpus_pq")
      // list radii: the same triangle-inequality metadata the exact IVF
      // probe uses, persisted at build time like the centroids
      val radii = listRadiiAssigned(assigned, vecCol, cents)
      writeJson(spark, s"$path/radii.json",
        (0 until nLists).map(l => radii.getOrElse(l, 2.0))
          .mkString("[", ",", "]"))
      // the full-vector corpus rides next to the codes (same layout as
      // buildIvfIndex) for the IVFADC+R re-rank stage: the ADC long-list
      // scan stays codes-only; only the R short-listed rows per query are
      // ever re-read here, pruned by list partition + id predicate
      // pushdown, so the full vectors cost ~R·|queries| row-group reads,
      // not a corpus scan.
      writeIvfCorpus(assigned.withColumn("_n", norm(col(vecCol)))
        .select(col(idCol), col(vecCol), col("_n"), col("list")), path)
      assigned.unpersist()
      writeJson(spark, s"$path/centroids.json",
        cents.map(_.mkString("[", ",", "]")).mkString("[", ",", "]"))
      writeJson(spark, s"$path/codebooks.json",
        codebooks.map(_.map(_.mkString("[", ",", "]"))
          .mkString("[", ",", "]")).mkString("[", ",", "]"))
    } finally d.unpersist()
  }

  /** Attach `codes` (per-subspace argmin codebook ids) and `_rn` (the
    * reconstruction norm) for the given codebooks — the encode step of
    * [[buildIvfPqIndex]]. */
  private def withPqCodes(d: DataFrame, vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val w = codebooks.head.head.length
    // per-subspace squared centroid norms, for the reconstruction norm
    val sqn = codebooks.map(_.map(c => c.map(x => x * x).sum))
    val sqnLit = array(sqn.map(s => array(s.map(lit): _*)): _*)
    val codesCol = array((0 until m).map(i =>
      nearestList(slice(col(vecCol), i * w + 1, w), codebooks(i))): _*)
    d.withColumn("codes", codesCol)
      .withColumn("_rn", sqrt(aggregate(sequence(lit(0), lit(m - 1)),
        lit(0.0), (acc, i) => acc + element_at(
          element_at(sqnLit, i + 1), element_at(col("codes"), i + 1) + 1))))
  }

  private def writeJson(spark: org.apache.spark.sql.SparkSession,
      path: String, json: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(json.getBytes("UTF-8"))
    out.close()
  }

  /** Text of a small index metadata file. */
  private def readText(spark: org.apache.spark.sql.SparkSession,
      p: org.apache.hadoop.fs.Path): String = {
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
  }

  private def readJson[T](spark: org.apache.spark.sql.SparkSession,
      path: String, cls: Class[T]): T =
    new com.fasterxml.jackson.databind.ObjectMapper().readValue(
      readText(spark, new org.apache.hadoop.fs.Path(path)), cls)

  /** Pruning radii of a persisted index (written by [[buildIvfPqIndex]]). */
  def loadRadii(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Double] =
    readJson(spark, s"$path/radii.json", classOf[Array[Double]])

  /** [[loadRadii]] with graceful degradation for indexes persisted
    * before radii existed (or built externally): a missing radii.json
    * yields all-2.0 — the sphere diameter, i.e. no pruning — so append
    * and the exact probe keep working (just without the bound's
    * speedup) instead of throwing (r10 advice). */
  def loadRadiiOrDefault(spark: org.apache.spark.sql.SparkSession,
      path: String, nLists: Int): Array[Double] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/radii.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) loadRadii(spark, path)
    else Array.fill(nLists)(2.0)
  }

  /** Codebooks of a persisted PQ index. */
  def loadPqCodebooks(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Array[Double]]] =
    readJson(spark, s"$path/codebooks.json", classOf[Array[Array[Array[Double]]]])

  /** Probe a [[buildIvfPqIndex]] index: same routing and static partition
    * pruning as [[ivfProbeIndex]], but the corpus side reads only
    * (id, codes, _rn) — never a float vector — and scores by ADC:
    * approximate cosine = Σ_m dot(q_m, codebook_m[code_m]) / (|q|·|recon|).
    * Approximate by construction (quantization error), deterministic for
    * a given index. */
  def ivfPqProbeIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 4,
      precomputedLists: Option[Seq[Int]] = None): DataFrame = {
    val cents = loadIvfCentroids(spark, path)
    val codebooks = loadPqCodebooks(spark, path)
    val corpus = spark.read.parquet(s"$path/corpus_pq")
    val qProbes = asDouble(queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        norm(col(vecCol)).as("_qn"),
        explode(nearestLists(col(vecCol), cents, nProbe)).as("list"))
    val probedLists = precomputedLists.getOrElse(
      qProbes.select(col("list")).distinct()
        .collect().map(_.getInt(0)).toSeq)
    // native codegen'd ADC (bit-identical summation order to the nested
    // aggregate/zip_with HOF it replaced, which evaluated interpreted
    // once per corpus-row × query pair — the probe's hot loop)
    val adc = graft.functions.VectorFunctions.pqAdcDot(
      col("qvec"), col("codes"), codebooks)
    val scored = corpus.where(col("list").isin(probedLists: _*))
      .join(broadcast(qProbes), Seq("list"))
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("candidate_id"),
        round(adc / (col("_qn") * col("_rn")), RoundScale).as("cosine"))
    val win = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("candidate_id"))
    scored.withColumn("rank", row_number().over(win)).where(col("rank") <= k)
  }

  /** IVFADC+R probe: ADC short-list + exact re-rank (the "+R" refinement
    * from the same Jégou et al. TPAMI'11 line [[buildIvfPqIndex]] cites).
    * Stage 1 probes the compressed codes exactly like [[ivfPqProbeIndex]]
    * but keeps the top `rerankR` candidates per query (R ≈ 4–10×k);
    * stage 2 re-reads ONLY those rows from the full-vector corpus the
    * index build wrote next to the codes and rescores with the exact
    * cosine, emitting the true top-k among the short-list.
    *
    * Scale shape: the long-list scan still reads codes-only bytes over
    * nProbe/nLists partitions; the refinement reads ≤ R·|queries| rows
    * (both bounded by the probe batch, never the corpus) through a
    * collected id list applied as a pushed-down `isin` — the same
    * bounded-driver-state move as the probed-list pruning. Recall becomes
    * IVF-routing-limited instead of quantization-limited: any true
    * neighbor inside the probed lists and the ADC top-R is returned at
    * its exact rank. */
  def ivfPqProbeRerank(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 4, rerankR: Int = 40): DataFrame = {
    recoverCorpus(spark, path)
    val cents = loadIvfCentroids(spark, path)
    // route ONCE per call: the ADC long-list probe and the refinement
    // read share the same probed-list ids instead of each collecting
    // its own routing job
    val probedLists = asDouble(queries, vecCol)
      .select(explode(nearestLists(col(vecCol), cents, nProbe)).as("list"))
      .distinct().collect().map(_.getInt(0)).toSeq
    // localCheckpoint (eager), not persist(): the short-list is consumed
    // twice (id collect + broadcast join) so it must be materialized once,
    // but a persist() entry would sit in the CacheManager until an
    // explicit unpersist — and the result DataFrame is returned lazily, so
    // there is no safe place to call it. Checkpoint blocks are released by
    // the ContextCleaner as soon as the RDD is unreferenced, so repeated
    // probe calls (bench reps, long-lived serving) cannot accumulate
    // executor storage.
    val shortlist = ivfPqProbeIndex(spark, path, queries, idCol, vecCol,
        rerankR, nProbe, Some(probedLists))
      .select(col("query_id"), col("candidate_id"))
      .transform(Pin.pin)
    val q = asDouble(queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        norm(col(vecCol)).as("_qn"))
    rescoreShortlist(spark, path, shortlist, q, idCol, vecCol,
      probedLists, k)
  }

  /** Exact-cosine rescore of a (query_id, candidate_id) short-list from
    * the index's full-vector corpus, shared by the +R refinement and the
    * exact probe. Adaptive read: an ONLINE probe (few queries → ≤ ~1k
    * short-listed ids) collects the ids and pushes them into the parquet
    * scan, so row-group stats skip nearly all full-vector bytes; a BATCH
    * probe (many queries) skips the driver-side id list — a bounded isin
    * no longer exists — and instead reads the pruned `list=` partitions
    * once, semi-joined against the broadcast short-list, amortizing the
    * partition read across the whole query batch. Both paths keep static
    * list pruning. The size probe and the id fetch are ONE action
    * (limit 1025 + collect), not a count() then a collect() — each
    * action on the shortlist is a job round on the probe's critical
    * path. */
  private def rescoreShortlist(spark: org.apache.spark.sql.SparkSession,
      path: String, shortlist: DataFrame, q: DataFrame, idCol: String,
      vecCol: String, lists: Seq[Int], k: Int): DataFrame = {
    val idRows = shortlist.select(col("candidate_id")).distinct()
      .limit(1025).collect()
    val candIds =
      if (idRows.length <= 1024) idRows.map(_.get(0)).toSeq else Seq.empty
    val pruned = readIvfCorpus(spark, path)
      .where(col("list").isin(lists: _*))
    val corpus = (if (candIds.nonEmpty)
        pruned.where(col(idCol).isin(candIds: _*)) else pruned)
      .select(col(idCol).as("candidate_id"), col(vecCol), col("_n"))
    val rescored = corpus.join(broadcast(shortlist), Seq("candidate_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("candidate_id"),
        round(dot(col("qvec"), col(vecCol)) / (col("_qn") * col("_n")),
          RoundScale).as("cosine"))
    val win = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("candidate_id"))
    rescored.withColumn("rank", row_number().over(win)).where(col("rank") <= k)
  }

  /** EXACT top-k through a PQ-compressed index (IVFADC with a
    * completeness guarantee): the codes-only ADC scan is turned from a
    * heuristic into a PROOF by two bounds — per list, the triangle
    * inequality over the stored radii (as in [[ivfTopKExact]]); per
    * point, the stored normalized reconstruction error `_e`:
    * ‖q̂−x̂‖ ≥ ‖q̂−x̃^‖ − ‖x̂−x̃^‖ = d_ADC − _e, so any point whose ADC
    * bound exceeds the phase-1 cut τ provably cannot enter the top-k.
    * Stage 1 runs the ordinary [[ivfPqProbeRerank]] for the cut; stage 2
    * ADC-scans every bound-qualifying list's CODES (never float vectors)
    * and admits only bound-qualifying points; stage 3 rescores the
    * admitted set exactly through the id-pushdown full-vector read. The
    * declared output is brute-force top-k bit-for-bit for ANY centroid /
    * codebook quality — quantization and routing affect only how much
    * stage 2 scans and stage 3 rescores (bounded on clustered corpora,
    * degrading toward a full codes pass + rescore on adversarial uniform
    * data: the honest cost of exactness). */
  def ivfPqProbeExact(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 4, rerankR: Int = 40): DataFrame = {
    recoverCorpus(spark, path)
    val cents = loadIvfCentroids(spark, path)
    val radii = loadRadiiOrDefault(spark, path, cents.length)
    val codebooks = loadPqCodebooks(spark, path)
    val anchors = unitAnchors(cents)
    val anchorArr = array(anchors.map(a => array(a.map(lit): _*)): _*)
    // stage 1: the approximate probe supplies the cut (its k exact
    // cosines are real candidates, so the kth is a valid bound). Its
    // candidate ids are also kept and unioned into the rescore set
    // below, so exactness never rests solely on the per-point bound.
    val p1 = ivfPqProbeRerank(spark, path, queries, idCol, vecCol, k,
        nProbe, rerankR)
      .select(col("query_id"), col("candidate_id"), col("cosine"))
      .transform(Pin.pin)
    val kth = p1.groupBy(col("query_id"))
      .agg(min(col("cosine")).as("_cosk"), count(lit(1)).as("_nk"))
      .select(col("query_id"),
        when(col("_nk") === k, col("_cosk")).as("_cosk"))
    val qn = asDouble(queries, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        norm(col(vecCol)).as("_qn"))
    import spark.implicits._
    val rl = radii.zipWithIndex.map { case (r, l) => (l, r) }
      .toSeq.toDF("list", "_rr")
    // stage 2a: bound-qualifying (query, list) pairs — |queries|·nLists
    // rows, bounded by the index
    val qLists = qn.join(broadcast(kth), Seq("query_id"), "left")
      .withColumn("_tau", tauCol(col("_cosk")))
      .crossJoin(broadcast(rl))
      .where(unitDist(col("qvec"), col("_qn"),
        element_at(anchorArr, col("list") + 1)) <= col("_tau") + col("_rr"))
      .select(col("query_id"), col("qvec"), col("_qn"), col("_tau"),
        col("list"))
    val scanLists = qLists.select(col("list")).distinct()
      .collect().map(_.getInt(0)).toSeq
    // stage 2b: ADC pass over the qualifying lists' codes; the per-point
    // bound admits a candidate only if it could still beat the cut
    val adc = graft.functions.VectorFunctions.pqAdcDot(
      col("qvec"), col("codes"), codebooks)
    // A degenerate point whose selected codebook centroids are all zero
    // has `_rn` = 0 → NaN bound; NaN comparisons are false, which would
    // silently DROP the point and void the exactness claim (r10
    // advice). Such a point carries no usable ADC information, so a
    // non-finite bound ADMITS — correctness over scan width.
    val bound = sqrt(greatest(lit(0.0),
      lit(2.0) * (lit(1.0) - col("_adcCos")))) - col("_e")
    val admitted = spark.read.parquet(s"$path/corpus_pq")
      .where(col("list").isin(scanLists: _*))
      .join(broadcast(qLists), Seq("list"))
      .where(col(idCol) =!= col("query_id"))
      .withColumn("_adcCos", adc / (col("_qn") * col("_rn")))
      .where(isnan(bound) || bound <= col("_tau"))
      .select(col("query_id"), col(idCol).as("candidate_id"))
      // belt-and-braces: the stage-1 shortlist is re-rescored too (as
      // ivfTopKExact unions p1top), so a bound bug can at worst cost
      // recall parity with the plain probe, never below it
      .union(p1.select(col("query_id"), col("candidate_id")))
      .distinct()
      .transform(Pin.pin)
    // stage 3: exact rescore of the admitted set — contains every true
    // top-k member by the bound argument, so the window IS brute force
    rescoreShortlist(spark, path, admitted, qn, idCol, vecCol,
      scanLists, k)
  }
}
