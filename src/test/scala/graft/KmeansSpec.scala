package graft

import graft.ext.{Dedup, Kmeans, Similarity}
import graft.functions.{Decimal12, Decimal12Sums}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, DecimalType}

/** In-engine exact Lloyd k-means + SemDeDup semantic dedup. */
class KmeansSpec extends SparkSpec {
  import spark.implicits._

  // two well-separated anchor clouds in R^4, deterministic offsets (no
  // RNG): even ids orbit anchor A, odd ids orbit anchor B. ids 0 and 1
  // (the two seeds) land one per cloud, so k=2 converges immediately.
  private def cloud(n: Int) = (0 until n).map { i =>
    val g = i % 2
    val base = if (g == 0) Array(10.0, 0.0, 0.0, 1.0)
               else Array(0.0, 10.0, 5.0, -1.0)
    val off = 0.1 * (i / 2)
    (i.toLong, base.zipWithIndex.map { case (b, j) => b + off * (j + 1) / 4.0 }.toSeq, g)
  }.toDF("vec_id", "embedding", "g")

  test("train + assignFinal recover the two planted clouds") {
    val df = cloud(20)
    val m = Kmeans.train(df, "vec_id", "embedding", k = 2, iters = 3)
    val af = Kmeans.assignFinal(df, "vec_id", "embedding", m)
      .join(df.select(col("vec_id"), col("g")), "vec_id")
      .collect()
    assert(af.length === 20)
    af.foreach { r =>
      assert(r.getAs[Long]("cluster") === r.getAs[Int]("g").toLong,
        s"vec ${r.getAs[Long]("vec_id")} assigned off-cloud")
    }
  }

  test("centroids are bit-identical across partitionings") {
    val df = cloud(40)
    def at(parts: Int) =
      Kmeans.train(df.repartition(parts), "vec_id", "embedding",
        k = 2, iters = 3).cents
    val a = at(1)
    val b = at(7)
    for (cl <- a.indices; j <- a(cl).indices)
      assert(java.lang.Double.doubleToLongBits(a(cl)(j)) ===
             java.lang.Double.doubleToLongBits(b(cl)(j)),
        s"centroid ($cl,$j) differs across partitionings")
  }

  test("an empty cluster carries its seed centroid forward") {
    // id 1 duplicates id 0's vector: in round 1 every point ties between
    // clusters 0 and 1 or prefers 0/2, the argmin tie-break sends ties to
    // the lower index, so cluster 1 receives NO members and must keep its
    // (quantized) seed vector as centroid, while 0 and 2 move to the
    // means of their members. (In later rounds the carried-forward seed
    // legitimately wins back the points cluster 0's update moved away
    // from — correct Lloyd dynamics, not tested here.)
    def q6(x: Double) = math.floor(x * 1000000.0 + 0.5) / 1000000.0
    val pts = Seq(
      (0L, Seq(1.0, 1.0, 0.0, 0.0)),
      (1L, Seq(1.0, 1.0, 0.0, 0.0)),
      (2L, Seq(-5.0, -5.0, 1.0, 1.0)),
      (3L, Seq(1.1, 0.9, 0.0, 0.0)),
      (4L, Seq(-5.2, -4.8, 1.0, 1.0))).toDF("vec_id", "embedding")
    val m = Kmeans.train(pts, "vec_id", "embedding", k = 3, iters = 1)
    assert(m.cents(1).toSeq === Seq(1.0, 1.0, 0.0, 0.0))
    assert(m.cents(0).toSeq === Seq(q6(3.1 / 3), q6(2.9 / 3), 0.0, 0.0))
    assert(m.cents(2).toSeq === Seq(q6(-10.2 / 2), q6(-9.8 / 2), 1.0, 1.0))
  }

  test("fast (literal-fold) path matches the exact relational path") {
    val df = cloud(30)
    val me = Kmeans.train(df, "vec_id", "embedding", k = 2, iters = 3)
    val mf = Kmeans.trainFast(df, "vec_id", "embedding", k = 2, iters = 3)
    for (cl <- me.cents.indices; j <- me.cents(cl).indices)
      assert(java.lang.Double.doubleToLongBits(me.cents(cl)(j)) ===
             java.lang.Double.doubleToLongBits(mf.cents(cl)(j)),
        s"fast/exact centroid ($cl,$j) diverge on a tie-free fixture")
    val ae = Kmeans.assignFinal(df, "vec_id", "embedding", me)
      .select(col("vec_id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val as = Kmeans.assignServing(df, "vec_id", "embedding", mf)
      .select(col("vec_id"), col("cluster")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ae === as)
  }

  test("native nearest-centroid expression ≡ the HOF reference fold") {
    val df = cloud(40)
    val m = Kmeans.train(df, "vec_id", "embedding", k = 2, iters = 2)
    def dump(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    assert(dump(Kmeans.assignServing(df, "vec_id", "embedding", m)) ===
           dump(Kmeans.assignServingHof(df, "vec_id", "embedding", m)))
  }

  test("semProbeStream flags copies against members, clears fresh vectors") {
    val base = cloud(20).select(col("vec_id"), col("embedding"))
    val m = Kmeans.train(base, "vec_id", "embedding", k = 2, iters = 2)
    val members = Kmeans.assignServing(base, "vec_id", "embedding", m)
      .join(base.select(col("vec_id"),
        col("embedding").cast("array<double>").as("mv")), "vec_id")
      .select(col("cluster"), col("vec_id").as("member_id"), col("mv"))
    val queries = base.where(col("vec_id") < 3)
      .select((col("vec_id") + 500L).as("vec_id"), col("embedding"))
      .unionByName(base.where(col("vec_id") === 4)
        .select(lit(600L).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding")))
    // batch evaluation of the streaming probe's plan (stream-static
    // joins evaluate identically per micro-batch; the full streaming
    // seam is pinned by the declared stream_semdedup oracle)
    val out = Kmeans.semProbeStream(queries, "vec_id", "embedding", m,
        members, minCosine = 0.999999).collect()
      .map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Long]("n_dups"), Option(r.get(2)))).toMap
    for (i <- 0L until 3L) {
      assert(out(i + 500L)._1 >= 1L, s"copy of $i not flagged")
      assert(out(i + 500L)._2 === Some(i), s"first_dup of copy $i wrong")
    }
    assert(out(600L) === ((0L, None)), "negated vector must be clean")
  }

  test("semDedup drops planted exact copies, keeps everything else") {
    val base = cloud(20).select(col("vec_id"), col("embedding"))
    val copies = base.where(col("vec_id") < 4)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    val out = Kmeans.semDedup(base.unionByName(copies), "vec_id",
      "embedding", k = 2, iters = 3, minCosine = 0.999999).collect()
    assert(out.length === 24)
    val byId = out.map(r => r.getAs[Long]("vec_id") -> r).toMap
    for (i <- 0L until 4L) {
      // copy pairs share a component rooted and kept at the original
      // (equal centroid distance -> id tie-break)
      assert(byId(i + 1000L).getAs[Long]("root") === byId(i).getAs[Long]("root"))
      assert(byId(i).getAs[Boolean]("keep"))
      assert(!byId(i + 1000L).getAs[Boolean]("keep"))
      assert(byId(i + 1000L).getAs[Long]("keeper") === i)
    }
    // unduplicated vectors are their own singleton components
    for (i <- 4L until 20L) {
      assert(byId(i).getAs[Long]("root") === i)
      assert(byId(i).getAs[Boolean]("keep"))
    }
    assert(out.count(_.getAs[Boolean]("keep")) === 20)
  }

  test("NearestCentroidDecimal ≡ the relational decimal assignment " +
      "pipeline it replaced (r16)") {
    // the r16 row-local assignment must reproduce the pre-r16
    // posexplode → broadcast-join-on-dim → decimal-SUM groupBy →
    // per-id window pipeline BIT-FOR-BIT on real data (this is the op
    // sequence the DuckDB oracle replays): rebuild the relational form
    // inline as the reference and diff the full (id, cluster, dist2)
    // assignment on the sf0.001 embeddings fixture against the model's
    // trained centroids
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val m = Kmeans.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val relational = relationalAssign(emb, m.cents).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val rowLocal = Kmeans.assignFinal(emb, "vec_id", "embedding", m)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rowLocal == relational,
      "row-local decimal assignment diverged from the relational pipeline")
  }

  test("Similarity.nearestCentroid (row-local) ≡ relational reference " +
      "on the embeddings fixture (r16)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def r6p(c: org.apache.spark.sql.Column) =
      floor(c * 1000000.0 + 0.5) / 1000000.0
    val cents = Similarity.meanVectorByKey(emb, "label", "embedding")
      .select(col("label").as("_ckey"), col("dim"), col("mean"))
    val ex = emb.withColumn("embedding",
        col("embedding").cast("array<double>"))
      .select(col("vec_id"), posexplode(col("embedding"))
        .as(Seq("dim", "_x")))
    val d2 = ex.join(broadcast(cents), "dim")
      .groupBy(col("vec_id"), col("_ckey"))
      .agg(r6p(sum(((col("_x") - col("mean")) * (col("_x") - col("mean")))
        .cast(DecimalType(38, 12))).cast("double")).as("dist2"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist2"), col("_ckey"))
    val relational = d2.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .select(col("vec_id"), col("_ckey").cast("long").as("assigned"),
        col("dist2")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val rowLocal = Similarity.nearestCentroid(emb, "vec_id", "label",
        "embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rowLocal == relational,
      "row-local nearestCentroid diverged from the relational pipeline")
  }

  // --- the relational Lloyd round the row-local kernels replaced ---

  private def r6p(c: Column) = floor(c * 1000000.0 + 0.5) / 1000000.0

  /** (vec_id, embedding) as (_kid, dim, _x) rows. */
  private def exploded(df: DataFrame) =
    df.select(col("vec_id").cast("long").as("_kid"),
      posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "_x")))

  /** The relational exact-decimal assignment (_kid, _cl, dist2):
    * posexplode → broadcast join on dim → decimal-SUM groupBy → per-id
    * window, the op sequence the DuckDB oracle replays. */
  private def relationalAssign(df: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    val cdf = (for {
      cl <- cents.indices; j <- cents(cl).indices
    } yield (cl.toLong, j, cents(cl)(j))).toDF("_cl", "dim", "_c")
    val d2 = exploded(df).join(broadcast(cdf), "dim")
      .groupBy(col("_kid"), col("_cl"))
      .agg(r6p(sum(((col("_x") - col("_c")) * (col("_x") - col("_c")))
        .cast(DecimalType(38, 12))).cast("double")).as("dist2"))
    val w = Window.partitionBy(col("_kid")).orderBy(col("dist2"), col("_cl"))
    d2.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .select(col("_kid"), col("_cl"), col("dist2"))
  }

  /** [[Kmeans.train]] as relational rounds: [[relationalAssign]], then
    * the (cluster, dim) exact-decimal update with carry-forward. */
  private def relationalTrain(df: DataFrame, k: Int,
      iters: Int): Array[Array[Double]] = {
    var cents = df.select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .orderBy(col("vec_id")).limit(k).collect()
      .map(_.getSeq[Double](1).toArray
        .map(x => math.floor(x * 1000000.0 + 0.5) / 1000000.0))
    for (_ <- 1 to iters) {
      val upd = exploded(df).join(relationalAssign(df, cents), "_kid")
        .groupBy(col("_cl"), col("dim"))
        .agg(r6p(sum(col("_x").cast(DecimalType(38, 12))).cast("double")
          / count(lit(1))).as("_c"))
        .collect()
      val next = cents.map(_.clone)
      upd.foreach { r =>
        next(r.getLong(0).toInt)(r.getInt(1)) = r.getDouble(2) }
      cents = next
    }
    cents
  }

  private def bits(cents: Array[Array[Double]]) =
    cents.map(_.map(java.lang.Double.doubleToLongBits).toSeq).toSeq

  test("Decimal12.unscaled ≡ Spark's CAST(x AS DECIMAL(38,12)) on random " +
      "values, near-ties and the fast-path edges") {
    /** Spark's Cast: the unscaled value, or Wide past 63 bits or 38
      * digits. */
    def cast12(x: Double): Long = {
      val d = Decimal(x)
      if (!d.changePrecision(38, 12)) Decimal12.Wide
      else {
        val u = d.toJavaBigDecimal.unscaledValue
        if (u.bitLength < 64) u.longValue else Decimal12.Wide
      }
    }
    val r = new scala.util.Random(13)
    val two42 = 4398046511104.0 / 1e12
    val edges = Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      1e-310, -1e-310, java.lang.Double.MIN_NORMAL, 0.5e-12, 1.5e-12,
      two42, -two42, 9.2e6, 9.3e6, -9.3e6, 1e25) ++
      Seq(two42, -two42).flatMap(x =>
        Seq(Math.nextUp(x), Math.nextDown(x)))
    val ties = (0 until 20000).flatMap { _ =>
      val n = (r.nextDouble() * 8e12).toLong
      val x = (if (r.nextBoolean()) 1 else -1) * (n + 0.5) * 1e-12
      Seq(x, Math.nextUp(x), Math.nextDown(x))
    }
    val random = (0 until 200000).map { i =>
      val sign = if (r.nextBoolean()) 1.0 else -1.0
      if (i % 2 == 0) sign * r.nextDouble() * 8.0
      else sign * math.pow(10, r.nextDouble() * 23 - 15)
    }
    val all = edges ++ ties ++ random
    val bad = all.filter(x => Decimal12.unscaled(x) != cast12(x))
    assert(bad.size === 0, s"mismatches, e.g. ${bad.take(5)}")
    // the constructed cases through Spark's own Cast expression too
    val viaSql = (edges ++ ties.take(300)).toDF("x")
      .select(col("x"), col("x").cast(DecimalType(38, 12)).as("d")).collect()
    viaSql.foreach { row =>
      val x = row.getDouble(0)
      val u = row.getDecimal(1).unscaledValue
      assert((if (u.bitLength < 64) u.longValue else Decimal12.Wide) ===
        Decimal12.unscaled(x), s"CAST($x)")
    }
    // the way back: Decimal12.toDouble ≡ BigDecimal.doubleValue, on both
    // sides of 2^52
    for (s <- (0 until 20000).map(_ => r.nextLong() >> r.nextInt(40)) ++
        Seq(0L, 1L, -1L, (1L << 52) - 1, 1L << 52, -(1L << 52), Long.MaxValue))
      assert(Decimal12.toDouble(s) ===
        java.math.BigDecimal.valueOf(s, 12).doubleValue, s"toDouble($s)")
  }

  test("Decimal12Sums ≡ a BigDecimal sum of Spark casts, in any order, " +
      "through wide terms and Long overflow") {
    val r = new scala.util.Random(17)
    val terms = (0 until 4000).map { i =>
      val sign = if (r.nextBoolean()) 1.0 else -1.0
      sign * (if (i % 3 == 0) 5e6 + r.nextDouble() * 4e6
              else if (i % 3 == 1) r.nextDouble() * 1e20
              else r.nextDouble() * 3)
    }
    val want = terms.map(Decimal12.cast).reduce(_ add _)
    // sum 0 adds every term, sum 1 only the small ones, sum 2 none
    val whole = new Decimal12Sums(3)
    terms.foreach(whole.add(0, _))
    terms.filter(math.abs(_) < 3).foreach(whole.add(1, _))
    val parts = terms.grouped(37).map { g =>
      val p = new Decimal12Sums(3); g.reverse.foreach(p.add(0, _)); p }.toSeq
    val merged = new Decimal12Sums(3)
    parts.reverse.foreach(merged.merge)
    merged.merge(whole)
    whole.merge(new Decimal12Sums(3))
    assert(whole.toBigDecimal(0).compareTo(want) === 0)
    assert(whole.toDouble(0) === want.doubleValue)
    assert(merged.toBigDecimal(0).compareTo(want.add(want)) === 0)
    assert(merged.toDouble(0) === want.add(want).doubleValue)
    val small = terms.filter(math.abs(_) < 3).map(Decimal12.cast).reduce(_ add _)
    assert(whole.toBigDecimal(1).compareTo(small) === 0)
    assert(whole.isEmpty(2) && !whole.isEmpty(1))
    whole.clear(0)
    assert(whole.isEmpty(0) && whole.toBigDecimal(0).signum === 0)
  }

  test("a Lloyd round is one Spark job: train(k = 8, iters = 3) runs " +
      "1 seed job + 3 round jobs") {
    import org.apache.spark.graftbridge.ListenerBus
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for (fast <- Seq(false, true)) {
      val (_, js) = ListenerBus.jobsDuring(spark.sparkContext)(
        if (fast) Kmeans.trainFast(emb, "vec_id", "embedding", k = 8, iters = 3)
        else Kmeans.train(emb, "vec_id", "embedding", k = 8, iters = 3))
      assert(js.size === 4, s"fast = $fast: ${js.size} jobs: $js")
    }
  }

  test("train ≡ relational rounds, bit for bit, on the embeddings " +
      "fixture and on components that force both BigDecimal fallbacks") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // two clouds at ±5e6: every cast leaves the scaled-long fast path
    // (cross-cloud terms are ~1e26 scaled, too wide for a Long), and two
    // members' components already overflow a Long cell sum
    val big = (0 until 24).map { i =>
      val s = if (i % 2 == 0) 1.0 else -1.0
      (i.toLong, (0 until 4).map(j =>
        s * (5e6 + 0.37 * i + 0.123456789 * j) + 1.7 * ((i * 7 + j) % 5)))
    }.toDF("vec_id", "embedding")
    for ((name, df, k) <- Seq(("embeddings", emb, 8), ("big", big, 3))) {
      val m = Kmeans.train(df, "vec_id", "embedding", k, iters = 3)
      assert(bits(m.cents) === bits(relationalTrain(df, k, 3)),
        s"$name: centroids differ from the relational rounds")
      val rowLocal = Kmeans.assignFinal(df, "vec_id", "embedding", m)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val relational = relationalAssign(df, m.cents).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rowLocal == relational, s"$name: final assignment differs")
      if (name == "big")
        assert(relational.groupBy(_._2).values.exists(_.size >= 2),
          "no cluster of the big fixture sums two ~5e6 components")
    }
  }

  test("non-finite and out-of-range components under the default ANSI " +
      "setting: NULL in the sum, counted in the mean; 1e26 fails") {
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity)) {
      // id 2 joins cluster 0 on its finite dim, its bad component is
      // skipped by the sum but counted: dim 1 = (1.0 + NULL) / 2; id 3
      // has no finite term and joins no cluster
      val pts = Seq((0L, Seq(1.0, 1.0)), (1L, Seq(-1.0, -1.0)),
        (2L, Seq(1.5, bad)), (3L, Seq(bad, bad))).toDF("vec_id", "embedding")
      assert(Kmeans.train(pts, "vec_id", "embedding", k = 2, iters = 2)
        .cents.map(_.toSeq).toSeq === Seq(Seq(1.25, 0.5), Seq(-1.0, -1.0)))
      // a cluster whose only member has a NULL component: the NULL SUM
      // reads as 0.0
      val lone = Seq((0L, Seq(1.0, bad)), (1L, Seq(-1.0, -1.0)))
        .toDF("vec_id", "embedding")
      assert(Kmeans.train(lone, "vec_id", "embedding", k = 2, iters = 1)
        .cents.map(_.toSeq).toSeq === Seq(Seq(1.0, 0.0), Seq(-1.0, -1.0)))
    }
    val huge = Seq((0L, Seq(1.0, 1.0)), (1L, Seq(-1.0, -1.0)),
      (2L, Seq(1.5, 2e26))).toDF("vec_id", "embedding")
    val e = intercept[Exception](
      Kmeans.train(huge, "vec_id", "embedding", k = 2, iters = 1))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage)
        .contains("cannot be represented as Decimal(38, 12)")), e)
  }

  test("k <= 0 fails at the driver with a message naming k") {
    val df = cloud(4)
    for (k <- Seq(0, -1); fast <- Seq(false, true)) {
      val e = intercept[IllegalArgumentException](
        if (fast) Kmeans.trainFast(df, "vec_id", "embedding", k, 1)
        else Kmeans.train(df, "vec_id", "embedding", k, 1))
      assert(e.getMessage.contains(s"k = $k"))
    }
  }

  // --- SemDeDup's cluster-local tail against the global reference ---

  private type Kept = (Long, Long, Long, Long, Boolean)

  private def kept(df: DataFrame): Set[Kept] =
    df.select("vec_id", "cluster", "root", "keeper", "keep").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSet

  /** The tail as it was composed before the grouped pass: global
    * pointer-doubling components over the pairs, then the smallest
    * `(dist2, id)` per component by a window. */
  private def referenceTail(members: DataFrame, pairs: DataFrame): Set[Kept] = {
    val comp = Dedup.dedupClusters(pairs, "id_a", "id_b")
    val withRoot = members
      .join(comp.select(col("doc").as("vec_id"), col("root")), Seq("vec_id"),
        "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("root"), col("vec_id")).as("root"), col("dist2"))
    val keepers = withRoot
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("root")).orderBy(col("dist2"), col("vec_id"))))
      .where(col("_rn") === 1)
      .select(col("root"), col("vec_id").as("keeper"))
    kept(withRoot.join(keepers, Seq("root"))
      .withColumn("keep", col("vec_id") === col("keeper")))
  }

  /** Reference SemDeDup: the same model and assignment, every
    * intra-cluster pair with the same portable-rounded cosine, then
    * [[referenceTail]]. */
  private def referenceSemDedup(corpus: DataFrame, k: Int, iters: Int,
      minCosine: Double, fast: Boolean): Set[Kept] = {
    val members =
      if (fast) Kmeans.assignServing(corpus, "vec_id", "embedding",
        Kmeans.trainFast(corpus, "vec_id", "embedding", k, iters))
      else Kmeans.assignFinal(corpus, "vec_id", "embedding",
        Kmeans.train(corpus, "vec_id", "embedding", k, iters))
    val v = members.join(corpus.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v")), "vec_id")
    val pairs = v.select(col("vec_id").as("id_a"), col("cluster"),
        col("v").as("va"))
      .join(v.select(col("vec_id").as("id_b"), col("cluster"),
        col("v").as("vb")), "cluster")
      .where(col("id_a") < col("id_b"))
      .where(floor(Similarity.dot(col("va"), col("vb"))
          / (Similarity.norm(col("va")) * Similarity.norm(col("vb")))
          * 1000000.0 + 0.5) / 1000000.0 >= minCosine)
      .select(col("id_a"), col("id_b"))
    referenceTail(members, pairs)
  }

  /** 2-D unit vectors at the given angles (degrees), ids from `ids`. */
  private def arc(ids: Seq[Long], degrees: Seq[Double]) =
    ids.zip(degrees).map { case (id, d) =>
      (id, Seq(math.cos(math.toRadians(d)), math.sin(math.toRadians(d))))
    }.toDF("vec_id", "embedding")

  // 12 vectors 5° apart: cos 5° ≈ 0.9962 clears 0.99, cos 10° ≈ 0.9848
  // does not, so only neighbours pair and the component is a 12-chain;
  // ids run against the arc so the root (min id) sits mid-chain
  private val chainIds = Seq(7L, 19L, 3L, 11L, 15L, 2L, 23L, 5L, 17L, 9L,
    13L, 21L)
  private def chain12 = arc(chainIds, (0 until 12).map(_ * 5.0))
  // the same 12 ids with only the first two 5° apart, the rest 25° apart
  private def chain2 = arc(chainIds, 0.0 +: (0 until 11).map(5.0 + _ * 25.0))

  // two clouds in R^4, seeds (ids 0, 1) one per cloud. Cloud e0: a star
  // (centre 0, spokes at ±0.1225 along e1 and e3: centre–spoke cosine
  // 0.9926, spoke–spoke ≤ 0.9852), two exact copies (5, 9: equal dist2,
  // keeper 5) and a singleton. Cloud e2: a 3-chain 1–7–11 (0.9950,
  // 0.9952; ends 0.9806) and three singletons.
  private def twoClouds = {
    val e = 0.1225
    Seq(
      0L -> Seq(1.0, 0.0, 0.0, 0.0), 2L -> Seq(1.0, e, 0.0, 0.0),
      4L -> Seq(1.0, -e, 0.0, 0.0), 6L -> Seq(1.0, 0.0, 0.0, e),
      8L -> Seq(1.0, 0.0, 0.0, -e), 9L -> Seq(1.0, 0.5, 0.0, 0.0),
      5L -> Seq(1.0, 0.5, 0.0, 0.0), 12L -> Seq(1.0, 0.0, 0.0, 0.5),
      1L -> Seq(0.0, 0.0, 1.0, 0.0), 7L -> Seq(0.0, 0.1, 1.0, 0.0),
      11L -> Seq(0.0, 0.2, 1.0, 0.0), 3L -> Seq(0.0, 0.0, 1.0, 0.5),
      10L -> Seq(0.0, -0.5, 1.0, 0.0), 13L -> Seq(0.0, 0.0, 1.0, -0.5)
    ).toDF("vec_id", "embedding")
  }

  test("grouped SemDeDup tail ≡ global components + (dist2, id) window " +
      "on hand-built members and pairs") {
    // cluster 0: a 12-chain with ids against the chain order, plus a
    // singleton; cluster 1: a star, a component whose two closest
    // members tie on dist2 (keeper falls to the smaller id, listed
    // second) and two singletons; cluster 2: no pairs at all
    val chainOrder = Seq(105L, 111L, 100L, 103L, 108L, 101L, 110L, 102L,
      107L, 104L, 109L, 106L)
    val members = (chainOrder.zipWithIndex.map { case (id, i) =>
        (id, 0L, 0.5 + 0.01 * ((i * 7) % 12)) } ++
      Seq((120L, 0L, 0.0),
        (200L, 1L, 0.5), (201L, 1L, 0.1), (202L, 1L, 0.2), (203L, 1L, 0.1),
        (204L, 1L, 0.3), (215L, 1L, 0.25), (212L, 1L, 0.3),
        (210L, 1L, 0.25), (220L, 1L, 0.25), (221L, 1L, 0.0),
        (300L, 2L, 0.7), (301L, 2L, 0.7)))
      .toDF("vec_id", "cluster", "dist2")
    val pairs = (chainOrder.sliding(2).map { case Seq(a, b) =>
        (0L, math.min(a, b), math.max(a, b)) }.toSeq ++
      (201L to 204L).map(s => (1L, 200L, s)) ++
      Seq((1L, 212L, 215L), (1L, 210L, 212L)))
      .toDF("cluster", "id_a", "id_b")
    val got = kept(Kmeans.keepWithinClusters(members, "vec_id", pairs))
    assert(got == referenceTail(members, pairs.select("id_a", "id_b")))
    val byId = got.map(t => t._1 -> t).toMap
    assert(chainOrder.forall(id => byId(id)._3 == 100L),
      "the 12-chain must resolve to one component rooted at its min id")
    assert(byId(105L)._4 == 105L && byId(111L)._4 == 105L)
    assert((200L to 204L).forall(id => byId(id)._4 == 201L),
      "star keeper: the smallest (dist2, id) of centre and spokes")
    assert(Seq(210L, 212L, 215L).forall(id => byId(id)._4 == 210L),
      "a dist2 tie keeps the smaller id")
    for (id <- Seq(120L, 220L, 221L, 300L, 301L))
      assert(byId(id) == ((id, byId(id)._2, id, id, true)))
  }

  test("semDedup ≡ the global reference on a 12-chain, " +
      "a star, dist2 ties, singletons and two clusters") {
    for ((name, corpus, k) <- Seq(("chain12", chain12, 1),
                                 ("twoClouds", twoClouds, 2))) {
      val exact = referenceSemDedup(corpus, k, 3, 0.99, fast = false)
      assert(kept(Kmeans.semDedup(corpus, "vec_id", "embedding", k, 3,
        0.99)) == exact, s"$name: semDedup(fast = false)")
      val fast = referenceSemDedup(corpus, k, 3, 0.99, fast = true)
      assert(kept(Kmeans.semDedup(corpus, "vec_id", "embedding", k, 3,
        0.99, fast = true)) == fast, s"$name: semDedup(fast = true)")
      // the fixtures really carry the shapes named above
      val byId = exact.map(t => t._1 -> t).toMap
      if (name == "chain12")
        assert(chainIds.forall(id => byId(id)._3 == 2L))
      else {
        assert(exact.map(_._2).size == 2, "two clusters expected")
        assert(Seq(0L, 2L, 4L, 6L, 8L).forall(id => byId(id)._3 == 0L))
        assert(byId(9L)._4 == 5L && byId(5L)._5)
        assert(Seq(1L, 7L, 11L).forall(id => byId(id)._3 == 1L))
        assert(byId(1L)._2 != byId(0L)._2)
        for (id <- Seq(12L, 3L, 10L, 13L)) assert(byId(id)._4 == id)
      }
    }
  }

  test("semDedup runs as many Spark jobs on a 12-chain as on a 2-chain") {
    import org.apache.spark.graftbridge.ListenerBus
    def jobs(corpus: DataFrame): (Int, Set[Kept]) = {
      val (out, js) = ListenerBus.jobsDuring(spark.sparkContext)(
        kept(Kmeans.semDedup(corpus, "vec_id", "embedding", k = 1,
          iters = 2, minCosine = 0.99)))
      (js.size, out)
    }
    val (j2, out2) = jobs(chain2)
    val (j12, out12) = jobs(chain12)
    assert(out2.count(t => !t._5) == 1 && out12.count(t => !t._5) == 11,
      "the fixtures must hold one 2-chain and one 12-chain")
    assert(j12 == j2, s"12-chain ran $j12 jobs, 2-chain $j2: " +
      "component resolution must not grow with the chain")
  }
}
