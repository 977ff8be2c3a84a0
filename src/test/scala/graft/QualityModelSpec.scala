package graft

import graft.ext.QualityModel
import org.apache.spark.sql.functions._

/** In-engine trained quality classifier + DSIR importance resampling. */
class QualityModelSpec extends SparkSpec {
  import spark.implicits._

  // linearly separable corpus: class 1 speaks vocab A, class 0 vocab B,
  // with a shared filler token so buckets overlap
  private def fixture = {
    val a = (0 until 20).map(i =>
      (i.toLong, s"alpha beta gamma alpha shared tok$i", 1.0))
    val b = (0 until 20).map(i =>
      (100L + i, s"delta epsilon zeta zeta shared tok$i", 0.0))
    (a ++ b).toDF("doc_id", "text", "label")
  }

  test("gridQ snaps to the 2^-20 dyadic grid and is idempotent") {
    val xs = Seq(0.3, -1.7, 0.123456789, 1e-9, 123.456)
    for (x <- xs) {
      val q = QualityModel.gridQ(x)
      assert(QualityModel.gridQ(q) === q)
      val scaled = q * QualityModel.Grid
      assert(scaled === math.rint(scaled), s"$x -> $q not on grid")
    }
  }

  test("trainLogReg separates a separable corpus; scoring is consistent") {
    val df = fixture
    val labels = df.select(col("doc_id").as("doc"), col("label").as("y"))
    val feat = QualityModel.denseFeatures(
      QualityModel.hashedBow(df, "doc_id", "text", 64), labels, 64).cache()
    val m = QualityModel.trainLogReg(feat, d = 64, iters = 40, lr = 0.125)
    assert(m.n === 40L)
    val scored = QualityModel.scoreLogReg(feat, m).collect()
    assert(scored.length === 40)
    // fully separable vocabularies -> every prediction right
    scored.foreach { r =>
      assert(r.getAs[Int]("pred").toDouble === r.getAs[Double]("y"),
        s"doc ${r.getAs[Long]("doc")} misclassified")
    }
    feat.unpersist(true)
  }

  test("trained weights are bit-identical across partitionings") {
    val df = fixture
    val labels = df.select(col("doc_id").as("doc"), col("label").as("y"))
    def weightsAt(parts: Int) = {
      val feat = QualityModel.denseFeatures(
        QualityModel.hashedBow(df.repartition(parts), "doc_id", "text", 64),
        labels, 64).cache()
      val m = QualityModel.trainLogReg(feat, d = 64, iters = 16, lr = 0.125)
      feat.unpersist(true)
      (m.w.toSeq, m.b)
    }
    val (w1, b1) = weightsAt(1)
    val (w7, b7) = weightsAt(7)
    // EXACT double equality — the dyadic-grid argument, not approximate
    assert(w1 === w7)
    assert(b1 === b7)
  }

  test("scoreText (stateless streaming fold) equals the dense-feature " +
      "margin bit-for-bit") {
    val df = fixture
    val labels = df.select(col("doc_id").as("doc"), col("label").as("y"))
    val feat = QualityModel.denseFeatures(
      QualityModel.hashedBow(df, "doc_id", "text", 64), labels, 64).cache()
    val m = QualityModel.trainLogReg(feat, d = 64, iters = 8, lr = 0.125)
    val batch = QualityModel.scoreLogReg(feat, m)
      .select("doc", "score").as[(Long, Double)].collect().sortBy(_._1)
    val text = df.select(col("doc_id").as("doc"),
        QualityModel.scoreText(col("text"), m).as("score"))
      .as[(Long, Double)].collect().sortBy(_._1)
    // exact double equality: per-token grid terms sum exactly in any order
    assert(text.toSeq === batch.toSeq)
    feat.unpersist(true)
  }

  test("quality end-to-end emits one scored row per doc with 0/1 preds") {
    val out = QualityModel.quality(fixture, "doc_id", "text",
      col("label") === 1.0).collect()
    assert(out.length === 40)
    assert(out.forall(r => Set(0, 1).contains(r.getAs[Int]("pred"))))
  }

  test("dsirSample ranks target-vocabulary docs first and keeps exactly " +
      "the top keepBp share") {
    val df = fixture
    val out = QualityModel.dsirSample(df, "doc_id", "text",
      col("label") === 1.0)
    val rows = out.collect()
    assert(rows.length === 40)
    val selected = rows.filter(_.getAs[Boolean]("selected"))
    assert(selected.length === 40 * QualityModel.DsirKeepBp / 10000) // 8
    // every selected doc speaks the target vocabulary
    assert(selected.forall(_.getAs[Long]("doc") < 100L))
    // scores of target docs strictly beat non-target docs
    val minTgt = rows.filter(_.getAs[Long]("doc") < 100L)
      .map(_.getAs[Double]("score")).min
    val maxRaw = rows.filter(_.getAs[Long]("doc") >= 100L)
      .map(_.getAs[Double]("score")).max
    assert(minTgt > maxRaw)
  }

  test("dsirSample scores are partition-invariant (exact decimal sums)") {
    val df = fixture
    def scores(parts: Int) =
      QualityModel.dsirSample(df.repartition(parts), "doc_id", "text",
          col("label") === 1.0)
        .select("doc", "score").as[(Long, Double)].collect().sortBy(_._1)
    assert(scores(1).toSeq === scores(7).toSeq)
  }

  test("dsirLambda int64-overflow fallback: trips at the boundary, " +
    "matches the exact ratio after the 6-dp round") {
    val d = QualityModel.DsirDim
    // (ct+1)·(nr+d) = ~1.2e19 > Long.MaxValue -> the decimal overflow
    // test must trip and route through the two-double-division fallback
    val big = Seq((3999999999L, 17L, 4100000000L, 2999999999L))
      .toDF("ct", "cr", "nt", "nr")
    val got = big.select(QualityModel
        .dsirLambda(col("ct"), col("cr"), col("nt"), col("nr"), d)
        .cast("double"))
      .head().getDouble(0)
    // reference: the exact integer ratio via BigDecimal, then the same
    // ln + 6-dp round — the fallback must land within one 6-dp quantum
    val exact = (BigDecimal(3999999999L + 1) * BigDecimal(2999999999L + d) /
      (BigDecimal(4100000000L + d) * BigDecimal(17L + 1))).toDouble
    val ref = math.floor(math.log(exact) * 1e6 + 0.5) / 1e6
    assert(math.abs(got - ref) <= 1e-6 + 1e-12,
      s"fallback lambda $got vs exact $ref")
    // far below the boundary the int64 branch is exact — bit-identical
    // to the spelled-out integer-product form
    val small = Seq((12L, 5L, 40L, 90L)).toDF("ct", "cr", "nt", "nr")
    val gotS = small.select(QualityModel
        .dsirLambda(col("ct"), col("cr"), col("nt"), col("nr"), d)
        .cast("double"))
      .head().getDouble(0)
    val refS = math.floor(math.log(
      ((12L + 1) * (90L + d)).toDouble / ((40L + d) * (5L + 1)).toDouble)
      * 1e6 + 0.5) / 1e6
    assert(gotS == refS, s"int64 branch $gotS vs $refS")
  }

  test("calibrationBins: hand-checked bins, means, fractions, gaps") {
    // Elliott p: score 1.0 -> 0.75 (bin 7), -1.0 -> 0.25 (bin 2),
    // 0.0 -> 0.5 (bin 5)
    val scored = Seq(
        (1L, 1.0, 1.0), (2L, 0.0, -1.0), (3L, 1.0, 0.0), (4L, 0.0, 1.0))
      .toDF("doc", "y", "score")
    val out = QualityModel.calibrationBins(scored).orderBy("bin")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(out == Seq(
      (2L, 1L, 0L, 0.25, 0.0, 0.25),
      (5L, 1L, 1L, 0.5, 1.0, 0.5),
      (7L, 2L, 1L, 0.75, 0.5, 0.25)), s"bins: $out")
    // bins partition the corpus
    assert(out.map(_._2).sum == 4L)
  }
}
