package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-in-the-loop data curation: an in-engine trained linear quality
  * classifier (the fastText-style "educational value / quality" gate of
  * CCNet, FineWeb-Edu and friends, re-expressed as Spark aggregates)
  * and DSIR importance resampling (Xie et al., "Data Selection for
  * Language Models via Importance Resampling", NeurIPS 2023).
  *
  * Both operate on PORTABLE hashed bag-of-words features (md5-prefix
  * token buckets — the same engine-portable hash discipline as
  * [[Corpus.sampleBucket]]), so a DuckDB oracle can replay every step
  * bit-for-bit.
  *
  * == Exact float discipline (why training is reproducible) ==
  *
  * Logistic-regression training is full-batch gradient descent whose
  * every cross-row aggregation is EXACT and therefore order- and
  * partition-invariant, without decimals in the hot path: all
  * accumulated quantities live on the dyadic grid 2^-20 (weights,
  * quantized residuals) or are integers (counts), so every product
  * w·c and every partial sum is an exactly-representable double —
  * float addition over exact dyadics is associative. The only rounding
  * steps are IEEE correctly-rounded scalar ops (one division inside the
  * rational Elliott sigmoid x/(1+|x|) [Elliott 1993 — chosen over
  * exp-sigmoid precisely because +,−,×,/ are correctly rounded by every
  * IEEE-754 engine while exp() is not], one division g/n and one
  * multiply lr·(g/n) in the update) followed by re-quantization onto
  * the grid — each deterministic bit-for-bit on ANY IEEE engine, so a
  * DuckDB SQL replay of training lands on the IDENTICAL model.
  * Exactness bound: partial gradient sums stay exact while
  * n_docs · max_tf < 2^32 (52 mantissa bits − 20 grid bits); past that
  * a production run re-grids per partial aggregate — documented, not
  * silently wrong, and 2^32 docs per training shard is far past any
  * classifier-fitting need (sample with [[Corpus.sampleBucket]] first).
  *
  * == Scale shape ==
  *
  * Feature extraction is one row-local tokenize + one (doc, bucket)
  * hash aggregate + one per-doc dense-array build — no window, no
  * corpus-keyed join. Training touches the corpus once per iteration
  * (T cached scans, T ≪ 100): each iteration is ONE aggregate emitting
  * d+2 exact sums (the gradient) — driver traffic O(d·T) doubles total,
  * independent of corpus size. Scoring is row-local against broadcast
  * (plan-literal) weights. DSIR is two hash aggregates (target/raw
  * bucket masses), a d-row broadcast weight table, and one exact
  * decimal per-doc sum — the log-ratio ln() is evaluated once per
  * BUCKET (d values), rounded to 6 dp BEFORE any multiplication, so
  * per-doc scores are exact decimal arithmetic (the unigramNll
  * discipline, applied even earlier).
  */
object QualityModel {

  /** Dyadic quantization grid: 2^-20. */
  private val GridBits = 20
  val Grid: Double = (1L << GridBits).toDouble

  /** floor(x·2^20 + 0.5)/2^20 — snap onto the dyadic grid. The scale by
    * a power of two, the +0.5 (magnitudes here are ≪ 2^31, so no bit is
    * lost), floor, and the division back are each EXACT double ops —
    * identical on any IEEE-754 engine, unlike decimal round(). */
  def gridQ(c: Column): Column = floor(c * lit(Grid) + lit(0.5)) / lit(Grid)

  def gridQ(x: Double): Double = math.floor(x * Grid + 0.5) / Grid

  /** The quality gate's buckets, GD rounds and rate: trained with, and
    * replayed by the oracle generators. */
  private[graft] val Dim = 64
  private[graft] val Iters = 16
  private[graft] val Lr = 0.125

  /** DSIR's bucket count and keep share (bp), engine and oracle. */
  private[graft] val DsirDim = 128
  private[graft] val DsirKeepBp = 2000L

  /** Engine-portable token bucket in [0, d): first 15 md5 hex digits as
    * a non-negative long, mod d. DuckDB spells the identical value
    * `('0x' || substr(md5(t), 1, 15))::BIGINT % d`. */
  def tokenBucket(tok: Column, d: Int): Column =
    pmod(conv(substring(md5(tok), 1, 15), 16, 10).cast("long"), lit(d.toLong))

  /** Hashed bag-of-words counts: (doc, bucket, c) — one explode + one
    * hash aggregate, map-side combinable. */
  def hashedBow(df: DataFrame, idCol: String, textCol: String,
      d: Int): DataFrame =
    df.select(col(idCol).as("doc"),
        explode(TextAnalysis.tokens(col(textCol))).as("_tok"))
      .groupBy(col("doc"), tokenBucket(col("_tok"), d).as("bucket"))
      .agg(count(lit(1)).as("c"))

  /** Dense per-doc feature row (doc, y, f[d]) from the sparse bow frame
    * and a (doc, y) label frame — the cached training working set. The
    * dense build is map_from_entries over each doc's ≤ d buckets (no
    * per-doc window, no pivot shuffle beyond the bow aggregate). */
  def denseFeatures(bow: DataFrame, labels: DataFrame, d: Int): DataFrame =
    bow.groupBy(col("doc"))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("c"))))
        .as("_m"))
      .select(col("doc"), transform(sequence(lit(0), lit(d - 1)),
        j => coalesce(element_at(col("_m"), j.cast("long")), lit(0L)))
        .as("f"))
      .join(labels, Seq("doc"))

  /** Row-local margin b + Σ_j w_j·f_j — every term and partial sum an
    * exact dyadic (w on the grid, f integer), so the fold order is
    * irrelevant. */
  def marginCol(fCol: Column, w: Array[Double], b: Double): Column =
    aggregate(
      zip_with(fCol, typedLit(w.toSeq), (c, wj) => c.cast("double") * wj),
      lit(b), (acc, x) => acc + x)

  /** Elliott rational sigmoid 0.5 + 0.5·m/(1+|m|): one IEEE division —
    * correctly rounded, hence engine-identical — where exp() would not
    * be. Monotone, (0,1), σ(0)=0.5: everything GD needs. */
  def elliott(m: Column): Column =
    lit(0.5) + lit(0.5) * m / (lit(1.0) + abs(m))

  /** Trained model: grid-quantized weights + bias and the doc count. */
  final case class LinearModel(w: Array[Double], b: Double, n: Long)

  /** Full-batch GD on the Elliott-sigmoid logistic loss over a dense
    * feature frame (from [[denseFeatures]]; `y` ∈ {0.0, 1.0}).
    *
    * Per iteration: ONE aggregate job producing the d+1 exact gradient
    * sums (quantized residual × integer count — exact dyadics) plus the
    * driver-side update w ← grid(w − lr·(g/n)). Cache `feat` before
    * calling; iterations re-scan the cached blocks. */
  def trainLogReg(feat: DataFrame, d: Int, iters: Int,
      lr: Double): LinearModel = {
    var w = Array.fill(d)(0.0)
    var b = 0.0
    var n = 0L
    for (_ <- 1 to iters) {
      val rq = gridQ(elliott(marginCol(col("f"), w, b)) - col("y")).as("_rq")
      val withR = feat.select(col("f"), rq)
      val gradCols =
        (0 until d).map(j =>
          sum(element_at(col("f"), j + 1).cast("double") * col("_rq"))
            .as(s"_g$j")) :+
        sum(col("_rq")).as("_gb") :+ count(lit(1)).as("_n")
      val row = withR.agg(gradCols.head, gradCols.tail: _*).collect()(0)
      n = row.getAs[Long]("_n")
      val nd = n.toDouble
      w = Array.tabulate(d)(j =>
        gridQ(w(j) - lr * (row.getAs[Double](s"_g$j") / nd)))
      b = gridQ(b - lr * (row.getAs[Double]("_gb") / nd))
    }
    LinearModel(w, b, n)
  }

  /** Row-local frozen-model scoring on RAW TEXT — the stateless
    * streaming path: one weight lookup per token, folded with plain
    * double addition. Every term is a grid element (w_j lives on the
    * 2^-20 grid and appears once per token occurrence), so any fold
    * order lands on the IDENTICAL double as [[marginCol]] over the
    * aggregated counts — stream scoring ≡ batch scoring bit-for-bit,
    * with no feature frame, no aggregate, no state store. */
  def scoreText(textCol: Column, m: LinearModel): Column =
    aggregate(
      transform(TextAnalysis.tokens(textCol), tok =>
        element_at(typedLit(m.w.toSeq),
          (tokenBucket(tok, m.w.length) + lit(1L)).cast("int"))),
      lit(m.b), (acc, x) => acc + x)

  /** Score a dense feature frame against a trained (or frozen) model:
    * row-local, weights plan-literal — the broadcast-free scoring path a
    * streaming probe shares. Emits (doc, y, score, pred). */
  def scoreLogReg(feat: DataFrame, m: LinearModel): DataFrame =
    feat.select(col("doc"), col("y"),
      marginCol(col("f"), m.w, m.b).as("score"))
      .withColumn("pred", (col("score") > lit(0.0)).cast("int"))

  /** End-to-end declared-query shape: label with `labelCol` (0/1),
    * train [[Iters]] rounds at rate [[Lr]] over [[Dim]] hashed buckets,
    * score every doc with the final model. */
  def quality(df: DataFrame, idCol: String, textCol: String,
      label: Column): DataFrame = {
    val labels = df.select(col(idCol).as("doc"), label.cast("double").as("y"))
    val feat = denseFeatures(hashedBow(df, idCol, textCol, Dim), labels, Dim)
      .persist()
    try {
      val m = trainLogReg(feat, Dim, Iters, Lr)
      scoreLogReg(feat, m)
    } finally { feat.unpersist(false): Unit }
  }

  /** Generated CTE prefix replaying [[quality]]'s training in DuckDB:
    * the feature/label CTEs plus one (margin, residual, gradient,
    * update) CTE quartet per iteration — the BPE generated-oracle
    * discipline applied to float training, sound because every
    * aggregate the SQL replays is exact dyadic arithmetic (see object
    * doc). `labelSql` must be a 0.0/1.0 DOUBLE expression over
    * `documents` columns mirroring `label`. Ends with a `scored`
    * (doc, y, score) CTE for the caller's tail select. */
  def qualityOracleCtes(labelSql: String): String = {
    val g = Grid.toLong
    val sb = new StringBuilder
    sb.append(
      s"""WITH lab AS MATERIALIZED (
         |  SELECT doc_id AS doc, $labelSql AS y FROM documents),
         |f AS MATERIALIZED (
         |  SELECT doc, ('0x' || substr(md5(tok), 1, 15))::BIGINT % $Dim
         |      AS bucket, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM (SELECT doc_id AS doc,
         |          unnest(regexp_extract_all(text, '\\S+')) AS tok
         |        FROM documents)
         |  GROUP BY 1, 2),
         |nn AS MATERIALIZED (SELECT COUNT(*)::DOUBLE AS n FROM lab),
         |w0 AS MATERIALIZED (
         |  SELECT unnest(generate_series(0, ${Dim - 1}))::BIGINT AS bucket,
         |    0.0::DOUBLE AS w),
         |b0 AS MATERIALIZED (SELECT 0.0::DOUBLE AS b)""".stripMargin)
    for (i <- 1 to Iters) {
      val p = i - 1
      sb.append(s""",
         |m$i AS MATERIALIZED (
         |  SELECT f.doc, SUM(f.c * w.w) + ANY_VALUE(b$p.b) AS m
         |  FROM f JOIN w$p w USING (bucket), b$p GROUP BY 1),
         |r$i AS MATERIALIZED (
         |  SELECT lab.doc,
         |    floor((0.5 + 0.5 * m$i.m / (1.0 + abs(m$i.m)) - lab.y)
         |          * $g.0 + 0.5) / $g.0 AS rq
         |  FROM lab JOIN m$i USING (doc)),
         |g$i AS MATERIALIZED (
         |  SELECT f.bucket, SUM(r$i.rq * f.c) AS gsum
         |  FROM f JOIN r$i USING (doc) GROUP BY 1),
         |w$i AS MATERIALIZED (
         |  SELECT w.bucket,
         |    floor((w.w - $Lr * (COALESCE(g$i.gsum, 0.0) / nn.n))
         |          * $g.0 + 0.5) / $g.0 AS w
         |  FROM w$p w LEFT JOIN g$i ON w.bucket = g$i.bucket, nn),
         |b$i AS MATERIALIZED (
         |  SELECT floor((b$p.b - $Lr * (s.gb / nn.n)) * $g.0 + 0.5) / $g.0
         |      AS b
         |  FROM b$p, (SELECT SUM(rq) AS gb FROM r$i) s, nn)""".stripMargin)
    }
    sb.append(s""",
       |scored AS MATERIALIZED (
       |  SELECT lab.doc AS doc, lab.y AS y, mm.m AS score
       |  FROM lab JOIN (
       |    SELECT f.doc, SUM(f.c * w.w) + ANY_VALUE(b$Iters.b) AS m
       |    FROM f JOIN w$Iters w USING (bucket), b$Iters GROUP BY 1) mm
       |    USING (doc))""".stripMargin)
    sb.toString
  }

  /** DuckDB replay of [[quality]]: the generated training CTEs + the
    * final scoring select. */
  def qualityOracleSql(labelSql: String): String =
    qualityOracleCtes(labelSql) + s"""
       |SELECT doc, y, score,
       |  CASE WHEN score > 0.0 THEN 1 ELSE 0 END AS pred
       |FROM scored ORDER BY doc""".stripMargin

  /** Reliability bins over a scored frame (doc, y, score) — the
    * calibration audit a model-in-the-loop curation gate reports before
    * its probabilities are trusted as sampling weights: probabilities
    * via the same Elliott sigmoid, ten fixed-width bins, per bin the
    * mean predicted probability vs the observed positive fraction and
    * their gap (the per-bin ECE term). Float discipline: p is one IEEE
    * division per row; the per-bin mean rounds p to 6 dp BEFORE an
    * exact-decimal sum (unigramNll discipline), so bins are partition-
    * and engine-invariant. One row-local projection + one 10-group
    * aggregate — no joins, no window. */
  def calibrationBins(scored: DataFrame): DataFrame = {
    val dec6 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    val grouped = scored
      .select(col("y"), elliott(col("score")).as("_p"))
      .withColumn("bin", floor(col("_p") * lit(10.0)).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("y")).cast("long").as("n_pos"),
        round(sum(round(col("_p"), 6).cast(dec6)).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_prob"))
      .withColumn("frac_pos",
        round(col("n_pos").cast("double") / col("n_docs").cast("double"), 6))
    grouped.withColumn("gap",
      round(abs(col("mean_prob") - col("frac_pos")), 6))
  }

  /** DuckDB replay of [[quality]] + [[calibrationBins]]. */
  def calibrationOracleSql(labelSql: String): String =
    qualityOracleCtes(labelSql) + s"""
       |SELECT bin, n_docs, n_pos, mean_prob, frac_pos,
       |  round(abs(mean_prob - frac_pos), 6) AS gap
       |FROM (
       |  SELECT CAST(floor(p * 10.0) AS BIGINT) AS bin,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(y) AS BIGINT) AS n_pos,
       |    round(CAST(SUM(CAST(round(p, 6) AS DECIMAL(38,6))) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE), 6) AS mean_prob,
       |    round(CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE), 6) AS frac_pos
       |  FROM (SELECT y, 0.5 + 0.5 * score / (1.0 + abs(score)) AS p
       |        FROM scored)
       |  GROUP BY 1)
       |ORDER BY bin""".stripMargin

  /** DSIR importance weights and resampling decision (Xie et al. 2023):
    * hashed-unigram bucket masses for the TARGET slice (`targetPred`)
    * vs the RAW corpus, add-1-smoothed log-ratio per bucket
    *
    *   λ_j = ln( (ct_j+1)·(Nr+d) / ((Nt+d)·(cr_j+1)) )
    *
    * rounded to 6 dp (ONE ln per bucket over an exactly-agreed integer
    * ratio — numerator/denominator are exact BIGINT products, the
    * division is one correctly-rounded IEEE op), a per-doc importance
    * score Σ_j c_j·λ_j in exact DECIMAL arithmetic, and the keep
    * decision = top [[DsirKeepBp]]/10000 of docs by (score desc, doc).
    * Emits (doc, score, rank, selected).
    *
    * Scale: two bucket-mass aggregates over the SAME (doc, bucket)
    * frame (one shuffle), a d-row broadcast, one per-doc exact decimal
    * aggregate; the keep-rank is [[Ranks.globalRowNumber]] — one range
    * shuffle of the (doc, score) frame with full nParts-way
    * parallelism, never a single-task global window. */
  /** The DSIR per-bucket weight λ = round₆(ln((ct+1)·(Nr+d) /
    * ((Nt+d)·(cr+1)))) as a DECIMAL(18,6) column — ln of ONE
    * exactly-agreed integer ratio (int64 products are exact at any
    * tested sf), rounded to 6 dp BEFORE any per-doc use. At corpus
    * scales where (ct+1)·(Nr+d) or (Nt+d)·(cr+1) would overflow int64
    * the fallback branch evaluates the ratio as two correctly-rounded
    * double divisions and one multiply instead — within 2 ulp of the
    * exact ratio before the ln, invisible after the 6-dp round (the
    * boundary spec pins this); the overflow TEST itself is exact
    * (decimal(38,0) products of two int64s cannot overflow). Only the
    * oracle pinning relies on the int64 form, and the fixture corpora
    * sit ~9 orders of magnitude below the boundary. */
  private[graft] def dsirLambda(ct: Column, cr: Column, nt: Column,
      nr: Column, d: Int): Column = {
    val big = org.apache.spark.sql.types.DataTypes.createDecimalType(19, 0)
    val num = ct + lit(1L)
    val nrd = nr + lit(d.toLong)
    val ntd = nt + lit(d.toLong)
    val den = cr + lit(1L)
    val maxL = lit(Long.MaxValue).cast(big)
    val fits = num.cast(big) * nrd.cast(big) <= maxL &&
      ntd.cast(big) * den.cast(big) <= maxL
    val ratio = when(fits,
        (num * nrd).cast("double") / (ntd * den).cast("double"))
      .otherwise((num.cast("double") / ntd.cast("double")) *
        (nrd.cast("double") / den.cast("double")))
    round(log(ratio), 6).cast("decimal(18,6)")
  }

  def dsirSample(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column): DataFrame = {
    val spark = df.sparkSession
    // target membership is a row-local doc predicate, so it rides the
    // tokenize + bow aggregate for free — the target slice is a big
    // fraction of the corpus (never broadcast it; never re-join it).
    // pinned (r16): bow feeds both the bucket-mass aggregate and the
    // per-doc scoring join — unpinned, the corpus tokenize+explode
    // subtree re-executed for each consumer
    val bow = Pin.pin(df.select(col(idCol).as("doc"),
        targetPred.cast("boolean").as("tgt"),
        explode(TextAnalysis.tokens(col(textCol))).as("_tok"))
      .groupBy(col("doc"), col("tgt"),
        tokenBucket(col("_tok"), DsirDim).as("bucket"))
      .agg(count(lit(1)).as("c")))
    val masses = bow.groupBy(col("bucket"))
      .agg(sum(col("c")).as("cr"),
        sum(when(col("tgt"), col("c")).otherwise(lit(0L))).as("ct"))
    val buckets = spark.range(0, DsirDim).select(col("id").as("bucket"))
      .join(masses, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("ct"), lit(0L)).as("ct"))
    val tot = masses.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    val lam = buckets.crossJoin(broadcast(tot))
      .select(col("bucket"),
        dsirLambda(col("ct"), col("cr"), col("nt"), col("nr"), DsirDim)
          .as("lambda"))
    val scored = bow.join(broadcast(lam), Seq("bucket"))
      .groupBy(col("doc"))
      .agg(sum(col("c").cast("decimal(12,0)") * col("lambda")).as("_s"))
      .select(col("doc"), col("_s").cast("double").as("score"))
    val n = df.count()
    val keepN = n * DsirKeepBp / 10000L
    // global rank via range-partition + per-partition offsets — an
    // unpartitioned row_number() window collapses the scored corpus
    // into ONE task (the classic scale-killer [[Ranks]] exists for);
    // (score desc, doc) is a total order, so the numbering is identical
    Ranks.globalRowNumber(scored, Seq(col("score").desc, col("doc")),
        out = "rank")
      .withColumn("selected", (col("rank") <= lit(keepN)).cast("boolean"))
  }

  /** DuckDB replay of [[dsirSample]] (target predicate supplied as SQL
    * over `documents`). */
  def dsirOracleSql(targetPredSql: String): String =
    s"""WITH f AS MATERIALIZED (
       |  SELECT doc, ('0x' || substr(md5(tok), 1, 15))::BIGINT % $DsirDim
       |      AS bucket, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id AS doc,
       |          unnest(regexp_extract_all(text, '\\S+')) AS tok
       |        FROM documents)
       |  GROUP BY 1, 2),
       |tdoc AS (SELECT doc_id AS doc FROM documents WHERE $targetPredSql),
       |raw AS (SELECT bucket, SUM(c) AS cr FROM f GROUP BY 1),
       |tgt AS (SELECT f.bucket, SUM(f.c) AS ct
       |        FROM f JOIN tdoc USING (doc) GROUP BY 1),
       |tot AS (SELECT (SELECT SUM(c) FROM f) AS nr,
       |  (SELECT SUM(f.c) FROM f JOIN tdoc USING (doc)) AS nt),
       |lam AS (SELECT b.bucket,
       |    CAST(round(ln(CAST((COALESCE(tgt.ct, 0) + 1) * (tot.nr + $DsirDim)
       |          AS DOUBLE)
       |        / CAST((tot.nt + $DsirDim) * (COALESCE(raw.cr, 0) + 1)
       |          AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lambda
       |  FROM (SELECT unnest(generate_series(0, ${DsirDim - 1}))::BIGINT
       |          AS bucket) b
       |  LEFT JOIN raw ON b.bucket = raw.bucket
       |  LEFT JOIN tgt ON b.bucket = tgt.bucket, tot),
       |sc AS (SELECT f.doc,
       |    CAST(SUM(CAST(f.c AS DECIMAL(12,0)) * lam.lambda) AS DOUBLE)
       |      AS score
       |  FROM f JOIN lam USING (bucket) GROUP BY 1),
       |kn AS (SELECT COUNT(*) * $DsirKeepBp // 10000 AS k FROM documents)
       |SELECT doc, score,
       |  CAST(row_number() OVER (ORDER BY score DESC, doc) AS BIGINT)
       |    AS rank,
       |  row_number() OVER (ORDER BY score DESC, doc) <= (SELECT k FROM kn)
       |    AS selected
       |FROM sc ORDER BY doc""".stripMargin
}
