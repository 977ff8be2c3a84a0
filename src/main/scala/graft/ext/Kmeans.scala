package graft.ext

import graft.functions.{Decimal12, Decimal12Sums, NearestCentroid,
  NearestCentroidDecimal}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** In-engine Lloyd k-means over an embedding corpus, with the exactness
  * discipline that makes iterative float training replayable by a DuckDB
  * oracle (the [[QualityModel]] generated-oracle pattern applied to
  * clustering), plus SemDeDup-style semantic deduplication on top
  * (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
  * through semantic deduplication", 2023).
  *
  * == Exact float discipline (why clustering is reproducible) ==
  *
  * Every cross-row aggregation in a Lloyd round is EXACT decimal
  * arithmetic, so it is order- and partition-invariant:
  *
  *  - distances accumulate the IEEE `(x − c)²` terms as DECIMAL(38,12)
  *    (each term is one correctly-rounded double op, cast to decimal by
  *    the engines' agreed half-up rule — the [[Similarity.nearestCentroid]]
  *    discipline), are cast back to double and 6-dp-rounded with the
  *    portable `floor(x·1e6 + 0.5)/1e6` op sequence BEFORE the argmin,
  *    so the assignment decision is bit-stable across engines;
  *  - centroid updates sum the raw components as DECIMAL(38,12)
  *    (float32 inputs widened to double are exact there — the
  *    [[Similarity.meanVectorByKey]] rule), take ONE correctly-rounded
  *    IEEE division by the member count, and snap onto the same 6-dp
  *    grid, so the next round's centroids are identical doubles on any
  *    engine;
  *  - seeds are the vectors of the k smallest ids, components snapped to
  *    the 6-dp grid — deterministic, no RNG.
  *
  * A DuckDB SQL replay of all `iters` rounds (4 CTEs per round —
  * distance, argmin, update, carry-forward) therefore lands on the
  * bit-identical centroids and assignment, and the driver's hash gate
  * pins the whole training loop, not just a final score.
  *
  * == Scale shape ==
  *
  * The working set is the cached (id, vector) frame; the seed job scans
  * it once, which fills the cache. Each round is ONE Spark job that
  * shuffles no rows: a `treeAggregate` whose tasks run the argmin on
  * each vector (the row-local [[graft.functions.NearestCentroidDecimal]]
  * arithmetic) and add the vector into per-(cluster, dim) exact decimal
  * sums held as scaled longs ([[graft.functions.Decimal12Sums]]), so each
  * task returns k·d sums and k counts. The driver divides and snaps them
  * (update) — driver traffic O(k·d) per task and round, independent of
  * corpus size, the [[QualityModel.trainLogReg]] contract. From six
  * partitions on, the tree (depth 2) adds one combine level, a shuffle
  * of the k·d partials only, which bounds the driver's fan-in at about
  * √partitions and is still one job. Exact sums are order-free, so the
  * result is that of the relational round the oracle replays
  * (posexplode → join on dim → decimal SUM → per-id argmin → (cluster,
  * dim) decimal SUM), bit for bit; KmeansSpec pins the rounds against
  * that reference. Empty clusters keep their previous centroid (no
  * re-seed RNG). At 100 TB the same loop runs with k in the thousands:
  * the centroid matrix is broadcast once per round — the canonical
  * distributed-Lloyd layout.
  */
object Kmeans {

  /** Portable 6-dp half-up round (column form): floor(x·1e6 + 0.5)/1e6 —
    * the same IEEE op sequence on every engine (see [[Similarity]]). */
  private def r6p(c: Column): Column = floor(c * 1000000.0 + 0.5) / 1000000.0

  /** Driver-side twin of [[r6p]] — used to snap seed components so the
    * literal seed grid is the value the oracle's SQL computes. */
  private def r6p(x: Double): Double = math.floor(x * 1000000.0 + 0.5) / 1000000.0

  /** Trained model: k × d centroid components on the 6-dp grid, cluster
    * index = rank of the seed vector's id. */
  final case class Model(cents: Array[Array[Double]])

  /** k·d centroid frame (cluster, dim, component) from driver arrays. */
  private def centLong(spark: SparkSession, cents: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    val rows = for {
      cl <- cents.indices
      j <- cents(cl).indices
    } yield (cl.toLong, j, cents(cl)(j))
    rows.toDF("_cl", "dim", "_c")
  }

  /** Public (cluster, dim, c) frame of a trained model. */
  def centroidFrame(spark: SparkSession, m: Model): DataFrame =
    centLong(spark, m.cents)
      .select(col("_cl").as("cluster"), col("dim"), col("_c").as("c"))

  /** Exact-decimal distance + portable argmin as ONE row-local codegen'd
    * expression ([[graft.functions.NearestCentroidDecimal]]): per-term
    * double→DECIMAL(38,12) casts, exact decimal sum, 6-dp round, then
    * strict-< first-min — bit-identical to the explode → broadcast-join
    * → decimal-SUM groupBy → per-id window pipeline this replaces
    * (decimal addition is order-free, so a row-local accumulation is the
    * same value the shuffled aggregate computed), with zero exchanges
    * and zero N·k intermediate rows. Input contract (r16 ADVICE,
    * documented rather than silently assumed): vectors must be CLEAN —
    * uniform dims equal to the centroids', no null elements. Rows
    * violating it are DROPPED (the expression returns null), which is
    * STRICTER than the old relational form (a posexplode'd null element
    * or ragged tail produced a partial decimal sum and the row was still
    * assigned); every declared corpus satisfies the contract, and a
    * partial-distance assignment was never a meaningful answer anyway. */
  private def assignDecimal(df: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]]): DataFrame =
    df.select(col(idCol).cast("long").as("_kid"),
        graft.functions.VectorFunctions.nearestCentroidDecimal(
          col(vecCol).cast("array<double>"), cents).as("_best"))
      .where(col("_best").isNotNull)
      .select(col("_kid"), col("_best").getField("cluster").as("_cl"),
        col("_best").getField("dist2").as("dist2"))

  /** Grid-snapped seed centroids: the k smallest-id vectors of the
    * `(_kid, _v)` frame. */
  private def seedCents(vdf: DataFrame, k: Int): Array[Array[Double]] =
    vdf.orderBy(col("_kid")).limit(k).collect()
      .map(_.getSeq[Double](1).toArray.map(r6p))

  /** Serving/throughput assignment: centroids enter the plan as LITERAL
    * arrays, each distance is a row-local left-to-right double fold, and
    * the argmin is `array_min` over (dist2, cluster) structs — zero
    * explode, zero join, zero shuffle, whole-stage codegen. This is the
    * form that scales in k: the relational [[assignFinal]] materializes
    * N·k aggregate groups (fine for the oracle-pinned k = 8 queries; the
    * audit form), while this one does O(k·d) codegen'd FLOPs per row.
    * Distances take the same portable 6-dp round before the argmin;
    * assignment is bit-stable across partitionings (row-local), though
    * near-exact distance TIES may resolve differently than the decimal
    * path — on separated data the two paths agree exactly
    * (KmeansSpec pins it on the fixture). Past k ≈ a few thousand,
    * route with an IVF shortlist ([[Similarity.nearestLists]]) before
    * the exact argmin instead of widening the literal array. */
  def assignServing(df: DataFrame, idCol: String, vecCol: String,
      m: Model): DataFrame = {
    // native codegen'd argmin loop (graft.functions.NearestCentroid):
    // the centroid matrix rides as one reference object, the per-row
    // cost is a tight primitive k×d loop, and the op sequence is
    // bit-identical to [[assignServingHof]] (spec-pinned)
    val best = graft.functions.VectorFunctions.nearestCentroidNative(
      col(vecCol).cast("array<double>"), m.cents)
    df.select(col(idCol).cast("long").as(idCol),
      best.getField("cluster").as("cluster"),
      best.getField("dist2").as("dist2"))
  }

  /** Higher-order-function formulation of [[assignServing]] — kept as the
    * reference implementation (bit-identical results; the whole k×d
    * centroid matrix is ONE literal node and the argmin one nested fold,
    * so even this form stays O(1) in expression size) and for engines
    * without the native expression. ~20× slower per row than the native
    * loop (per-element lambda dispatch). */
  def assignServingHof(df: DataFrame, idCol: String, vecCol: String,
      m: Model): DataFrame = {
    val mat = typedLit(m.cents.map(_.toSeq).toSeq)
    val v = col(vecCol).cast("array<double>")
    val best = aggregate(
      sequence(lit(0), lit(m.cents.length - 1)),
      struct(lit(Double.MaxValue).as("dist2"), lit(-1L).as("cluster")),
      (acc, j) => {
        val d2 = r6p(aggregate(
          zip_with(v, element_at(mat, j + 1), (x, cc) => (x - cc) * (x - cc)),
          lit(0.0), (a, x) => a + x))
        // strict < keeps the FIRST minimum, so exact-distance ties break
        // toward the smaller cluster index like the relational argmin
        when(d2 < acc.getField("dist2"),
          struct(d2.as("dist2"), j.cast("long").as("cluster")))
          .otherwise(acc)
      })
    df.select(col(idCol).cast("long").as(idCol),
      best.getField("cluster").as("cluster"),
      best.getField("dist2").as("dist2"))
  }

  /** Lloyd training on the serving-path assignment: [[train]]'s rounds
    * with the native double-fold argmin ([[assignServing]]'s) in place of
    * the exact-decimal one. The centroid update is [[train]]'s exact
    * decimal sum + 6-dp grid, so trained centroids remain BIT-IDENTICAL
    * across partitionings. Not oracle-replayable only because the
    * distance fold is double, not decimal — semantics match [[train]]
    * whenever no assignment lands on an exact distance tie. */
  def trainFast(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): Model = fit(df, idCol, vecCol, k, iters, exact = false)

  /** `iters` Lloyd rounds over `df`'s `vecCol`, seeded by the k smallest
    * `idCol` vectors. Cache-once / scan-per-round; see object doc for the
    * exactness and scale contracts. */
  def train(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): Model = fit(df, idCol, vecCol, k, iters, exact = true)

  private def fit(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, exact: Boolean): Model = {
    require(k > 0, s"Kmeans: k must be positive, got k = $k")
    val ansi = df.sparkSession.conf.get(SQLConf.ANSI_ENABLED.key).toBoolean
    val vdf = df.select(col(idCol).cast("long").as("_kid"),
      col(vecCol).cast("array<double>").as("_v")).persist()
    try {
      // the seed job scans every partition, so it fills the cache the
      // rounds read
      var cents = seedCents(vdf, k)
      val vecs = vdf.select(col("_v")).queryExecution.toRdd
      for (_ <- 1 to iters if cents.nonEmpty)
        cents = lloydRound(vecs, cents, exact, ansi)
      Model(cents)
    } finally { vdf.unpersist(false): Unit }
  }

  /** One Lloyd round as ONE Spark job: a `treeAggregate` whose tasks
    * label each vector with the argmin and add it into per-(cluster, dim)
    * exact DECIMAL(38,12) sums ([[RoundSums]]); the driver then takes
    * one correctly-rounded IEEE division per component and snaps it onto
    * the 6-dp grid. The result equals the relational update
    * `r6p(CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*))`
    * bit for bit, because the sums are exact and so order-free. Empty
    * clusters keep their previous centroid. A cell of a populated cluster
    * whose every member component is NULL (non-finite) has a NULL SUM,
    * which the relational update read back as 0.0 through
    * `Row.getAs[Double]`; the round keeps that value. */
  private def lloydRound(vecs: RDD[InternalRow], cents: Array[Array[Double]],
      exact: Boolean, ansi: Boolean): Array[Array[Double]] = {
    val k = cents.length
    val d = cents(0).length
    val bc = vecs.sparkContext.broadcast(cents)
    try {
      val part = vecs.treeAggregate(new RoundSums(k, d))(
        (acc, row) => acc.add(row, bc.value, exact, ansi),
        (a, b) => a.merge(b))
      Array.tabulate(k, d) { (cl, j) =>
        val n = part.counts(cl)
        val i = cl * d + j
        if (n == 0) cents(cl)(j)
        else if (part.sums.isEmpty(i)) 0.0
        else if (part.sums.toBigDecimal(i).precision > 38) {
          // SUM overflowed DECIMAL(38,12): an error under ANSI, else NULL
          if (ansi) throw outOfRange(part.sums.toBigDecimal(i))
          0.0
        } else r6p(part.sums.toDouble(i) / n)
      }
    } finally bc.destroy()
  }

  private def outOfRange(b: java.math.BigDecimal): ArithmeticException =
    new ArithmeticException(
      s"${b.toPlainString} cannot be represented as Decimal(38, 12)")

  /** One partition's share of a Lloyd round: per-(cluster, dim) exact
    * sums of the members' components and per-cluster member counts. A
    * vector the argmin cannot place (null element, wrong width, no finite
    * distance) joins no cluster. A component casts as Spark's
    * `CAST(x AS DECIMAL(38,12))` does: NaN and ±Infinity are NULL, which
    * SUM skips while COUNT(*) still counts the vector; a component of
    * 1e26 or more is out of range, an error under ANSI and NULL
    * otherwise. */
  private final class RoundSums(k: Int, d: Int) extends Serializable {
    val sums = new Decimal12Sums(k * d)
    val counts = new Array[Long](k)

    def add(row: InternalRow, cents: Array[Array[Double]], exact: Boolean,
        ansi: Boolean): RoundSums = {
      if (!row.isNullAt(0)) {
        val v = row.getArray(0)
        val best =
          if (exact) NearestCentroidDecimal.assign(v, cents)
          else NearestCentroid.assign(v, cents)
        val cl = if (best == null) -1 else best.getLong(1).toInt
        if (cl >= 0) {
          counts(cl) += 1
          var j = 0
          while (j < d) {
            val x = v.getDouble(j)
            if (java.lang.Double.isFinite(x)) {
              if (Math.abs(x) < 1e26) sums.add(cl * d + j, x)
              else if (ansi) throw outOfRange(Decimal12.cast(x))
            }
            j += 1
          }
        }
      }
      this
    }

    def merge(o: RoundSums): RoundSums = {
      sums.merge(o.sums)
      var i = 0
      while (i < k) { counts(i) += o.counts(i); i += 1 }
      this
    }
  }

  /** Assignment of every vector against a trained model's (final)
    * centroids: (idCol, cluster, dist2). One row-local codegen'd
    * decimal-argmin pass — zero shuffles, no training state needed. */
  def assignFinal(df: DataFrame, idCol: String, vecCol: String,
      m: Model): DataFrame =
    assignDecimal(df, idCol, vecCol, m.cents)
      .select(col("_kid").as(idCol), col("_cl").as("cluster"), col("dist2"))

  /** Streaming SemDeDup probe — the ingest-time twin of [[semDedup]]:
    * each arriving vector is assigned its cluster ROW-LOCALLY against the
    * frozen model (the native serving argmin — no state store, no
    * shuffle before the join; the oracle replays the identical
    * left-to-right double fold as a DuckDB list comprehension, the
    * [[Similarity]] dot-product precedent, so the assignment decision is
    * bit-stable across engines), stream-static-joined to the corpus
    * members of that cluster only, and flagged when any member's cosine
    * clears `minCosine`. Emits one row per query: (query_id, n_dups,
    * first_dup — smallest duplicate member id, NULL when clean).
    *
    * `members` must be the batch frame (cluster, member_id, mv) of corpus
    * assignments + widened vectors. Scale: the join key is the cluster
    * id, so each arriving vector compares against ONE cluster's members
    * (the SemDeDup bound), and the static side partitions by cluster. */
  def semProbeStream(queries: DataFrame, idCol: String, vecCol: String,
      m: Model, members: DataFrame, minCosine: Double): DataFrame = {
    val q = queries.select(col(idCol).cast("long").as("query_id"),
        col(vecCol).cast("array<double>").as("_qv"))
      .withColumn("cluster",
        graft.functions.VectorFunctions.nearestCentroidNative(col("_qv"),
          m.cents).getField("cluster"))
    val joined = q.join(members, Seq("cluster"), "left")
      .withColumn("_cos",
        r6p(Similarity.dot(col("_qv"), col("mv"))
          / (Similarity.norm(col("_qv")) * Similarity.norm(col("mv")))))
    joined.groupBy(col("query_id"))
      .agg(sum(when(col("_cos") >= lit(minCosine), 1L).otherwise(0L))
          .as("n_dups"),
        min(when(col("_cos") >= lit(minCosine), col("member_id")))
          .as("first_dup"))
  }

  /** SemDeDup (Abbas et al. 2023): cluster the corpus, mine near-duplicate
    * pairs ONLY within clusters (cosine ≥ `minCosine` on the 6-dp portable
    * round), resolve connected components, and keep one representative per
    * component — the member CLOSEST TO ITS CLUSTER CENTROID (ties toward
    * the smaller id), the paper's "low distance to centroid" keep rule.
    * Emits one row per vector: (idCol, cluster, root, keeper, keep).
    *
    * Scale shape: clustering bounds the pair search — candidates join on
    * the cluster key, so pair work is Σ|cluster|², controlled by k (pick
    * k ∝ N / target-cluster-size; the paper uses ~100k clusters at
    * web scale), never the corpus square. Every pair has both ends in one
    * cluster, so every component lies inside one cluster and resolves in
    * ONE grouped pass ([[keepWithinClusters]]) — no label-propagation
    * rounds. The assignment frame is pinned once (id, cluster, dist2 and
    * the vector) and feeds both pair sides and the grouped pass. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, minCosine: Double, fast: Boolean = false): DataFrame = {
    val m = if (fast) trainFast(df, idCol, vecCol, k, iters)
            else train(df, idCol, vecCol, k, iters)
    // assignment is row-local for BOTH arithmetic paths now, so the
    // pinned frame carries the vector alongside (id, cluster, dist2) —
    // the two id-equi-joins that re-attached vectors to each pair side
    // are gone (the pair self-join on the cluster key shuffled the
    // vectors either way; now they ride the same rows one hop earlier)
    val best = {
      val v = col("_v")
      if (fast) graft.functions.VectorFunctions
        .nearestCentroidNative(v, m.cents)
      else graft.functions.VectorFunctions
        .nearestCentroidDecimal(v, m.cents)
    }
    val avf = df.select(col(idCol).cast("long").as(idCol),
        col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_best", best)
      .where(col("_best").isNotNull)
      .select(col(idCol), col("_best").getField("cluster").as("cluster"),
        col("_best").getField("dist2").as("dist2"), col("_v"))
      .transform(Pin.pin)
    val af = avf.select(col(idCol), col("cluster"), col("dist2"))
    val a = avf.select(col(idCol).as("id_a"), col("cluster"),
      col("_v").as("_va"))
    val b = avf.select(col(idCol).as("id_b"), col("cluster"),
      col("_v").as("_vb"))
    val pairs = a.join(b, Seq("cluster"))
      .where(col("id_a") < col("id_b"))
      .select(col("cluster"), col("id_a"), col("id_b"),
        r6p(Similarity.dot(col("_va"), col("_vb"))
          / (Similarity.norm(col("_va")) * Similarity.norm(col("_vb"))))
          .as("_cos"))
      .where(col("_cos") >= lit(minCosine))
    keepWithinClusters(af, idCol, pairs)
  }

  /** Shared SemDeDup tail: members `(idCol, cluster, dist2)` and verified
    * near-dup pairs `(cluster, id_a, id_b)` → one row per member
    * `(idCol, cluster, root, keeper, keep)`. `root` is the smallest id of
    * the member's component, `keeper` the component member with the
    * smallest `(dist2, id)`; a member in no pair is its own root and
    * keeper.
    *
    * Both inputs are grouped by `cluster` and co-grouped, and each group
    * runs a union-find over its pairs — one pass, no rounds. That is exact
    * because a pair never crosses clusters. Per group the state is the
    * members' ids and `dist2` plus the union-find arrays, so memory grows
    * with the cluster's size, not with its pair count; the pair self-join
    * already holds a whole cluster in one task, so this adds no new scale
    * limit. Both sides group on the `cluster` column itself rather than
    * on a key function, so the planner sees the key and can reuse an
    * existing hash partitioning on it. */
  private[graft] def keepWithinClusters(members: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val spark = members.sparkSession
    import spark.implicits._
    val ms = members.select(col(idCol), col("cluster"), col("dist2"))
      .groupBy(col("cluster")).as[Long, (Long, Long, Double)]
    val ps = pairs.select(col("cluster"), col("id_a"), col("id_b"))
      .groupBy(col("cluster")).as[Long, (Long, Long, Long)]
    ms.cogroup(ps)(resolveCluster)
      .toDF(idCol, "cluster", "root", "keeper", "keep")
  }

  /** One cluster of [[keepWithinClusters]]: union-find over the pairs
    * (the smaller id's slot becomes the parent, so each root is its
    * component's minimum id), then the smallest `(dist2, id)` per root,
    * with `dist2` ordered as Spark's sort orders doubles. */
  private def resolveCluster(cluster: Long,
      members: Iterator[(Long, Long, Double)],
      pairs: Iterator[(Long, Long, Long)])
      : Iterator[(Long, Long, Long, Long, Boolean)] = {
    val rows = members.toArray
    val ids = rows.map(_._1).distinct.sorted
    def slot(id: Long): Int = {
      val i = java.util.Arrays.binarySearch(ids, id)
      require(i >= 0, s"SemDeDup pair member $id is not in cluster $cluster")
      i
    }
    val parent = Array.tabulate(ids.length)(identity)
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var j = i
      while (parent(j) != r) { val n = parent(j); parent(j) = r; j = n }
      r
    }
    pairs.foreach { case (_, a, b) =>
      val ra = find(slot(a))
      val rb = find(slot(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val keeper = Array.fill(ids.length)(-1)
    val keeperD = new Array[Double](ids.length)
    rows.foreach { case (id, _, d) =>
      val r = find(slot(id))
      val k = keeper(r)
      val c = if (k < 0 || d == keeperD(r)) 0
              else java.lang.Double.compare(d, keeperD(r))
      if (k < 0 || c < 0 || (c == 0 && id < ids(k))) {
        keeper(r) = slot(id)
        keeperD(r) = d
      }
    }
    rows.iterator.map { case (id, _, _) =>
      val r = find(slot(id))
      val kid = ids(keeper(r))
      (id, cluster, ids(r), kid, id == kid)
    }
  }

  /** DuckDB replay of [[train]] + [[assignFinal]]: the shared CTE prefix.
    * `eSql` must produce `(vec_id, v DOUBLE[])` for the same input frame
    * the engine clusters. Ends with `c$iters` (final centroids, columns
    * cl/dim/cv) and `af` (final assignment, columns vec_id/cl/dist2).
    * Set `recursive` when the caller appends recursive CTEs. */
  def oracleCtes(k: Int, iters: Int, eSql: String,
      recursive: Boolean = false): String = {
    val sb = new StringBuilder
    val rec = if (recursive) "RECURSIVE " else ""
    sb.append(
      s"""WITH ${rec}e AS MATERIALIZED ($eSql),
         |x AS MATERIALIZED (SELECT vec_id,
         |    unnest([{'dim': i - 1, 'val': v[i]}
         |            for i in generate_series(1, len(v))]) AS u
         |  FROM e),
         |seed AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl, vec_id
         |  FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT $k)),
         |c0 AS MATERIALIZED (
         |  SELECT s.cl, x.u.dim AS dim,
         |    floor(x.u.val * 1000000.0 + 0.5) / 1000000.0 AS cv
         |  FROM seed s JOIN x ON s.vec_id = x.vec_id)""".stripMargin)
    for (i <- 1 to iters) {
      val p = i - 1
      sb.append(s""",
         |d$i AS MATERIALIZED (
         |  SELECT x.vec_id, c.cl,
         |    floor(CAST(SUM(CAST((x.u.val - c.cv) * (x.u.val - c.cv)
         |        AS DECIMAL(38,12))) AS DOUBLE) * 1000000.0 + 0.5)
         |      / 1000000.0 AS dist2
         |  FROM x JOIN c$p c ON x.u.dim = c.dim GROUP BY 1, 2),
         |a$i AS MATERIALIZED (
         |  SELECT vec_id, cl, dist2 FROM (
         |    SELECT vec_id, cl, dist2, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY dist2, cl) AS rn FROM d$i)
         |  WHERE rn = 1),
         |u$i AS MATERIALIZED (
         |  SELECT a.cl, x.u.dim AS dim,
         |    floor((CAST(SUM(CAST(x.u.val AS DECIMAL(38,12))) AS DOUBLE)
         |        / COUNT(*)) * 1000000.0 + 0.5) / 1000000.0 AS cv
         |  FROM x JOIN a$i a USING (vec_id) GROUP BY 1, 2),
         |c$i AS MATERIALIZED (
         |  SELECT p.cl, p.dim, COALESCE(u.cv, p.cv) AS cv
         |  FROM c$p p LEFT JOIN u$i u ON p.cl = u.cl AND p.dim = u.dim)""".stripMargin)
    }
    sb.append(s""",
       |dfin AS MATERIALIZED (
       |  SELECT x.vec_id, c.cl,
       |    floor(CAST(SUM(CAST((x.u.val - c.cv) * (x.u.val - c.cv)
       |        AS DECIMAL(38,12))) AS DOUBLE) * 1000000.0 + 0.5)
       |      / 1000000.0 AS dist2
       |  FROM x JOIN c$iters c ON x.u.dim = c.dim GROUP BY 1, 2),
       |af AS MATERIALIZED (
       |  SELECT vec_id, cl, dist2 FROM (
       |    SELECT vec_id, cl, dist2, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY dist2, cl) AS rn FROM dfin)
       |  WHERE rn = 1)""".stripMargin)
    sb.toString
  }
}
