package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Seeded input generators. Each workload's inputs are a pure function of
  * the seed, shaped like the engine's reference tables: word-salad
  * documents over a 31-word vocabulary with `line` as the sentence marker,
  * 64-dimension clustered float embeddings, and 6-minute sensor signals
  * with gaps. The seed draws the values; the shape (document lengths and
  * languages, gap positions) comes from a fixed stream, so that runs with
  * different seeds do the same amount of work. */
object Gen {
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  /** The seed-independent stream that draws input shapes. */
  def shape(salt: Long): SplittableRandom = rng(0L, salt)

  val Vocab: Array[String] = ("spark window merge table column vector " +
    "stream value data small join filter big group hash customer sort " +
    "order slow line part fast row the agg key query a scan batch").split(' ')
  private val Langs = Array("en", "en", "zh", "es", "fr", "de")

  final case class Doc(docId: Long, text: String, lang: String,
      source: String)

  def words(r: SplittableRandom, n: Int): String =
    Seq.fill(n)(Vocab(r.nextInt(Vocab.length))).mkString(" ")

  /** `n` documents with ids 0 until n, 10 to 100 words each. */
  def docs(seed: Long, n: Int): Seq[Doc] = {
    val r = rng(seed, 1)
    val s = shape(1)
    (0 until n).map { i =>
      val len = 10 + s.nextInt(91)
      Doc(i.toLong, words(r, len), Langs(s.nextInt(Langs.length)),
        s"src${i % 20}")
    }
  }

  /** `n` 64-dimension vectors around 10 random unit centres; per-dimension
    * noise 0.1 keeps organic cosines far below a 0.95 near-dup cut. */
  def vectors(seed: Long, n: Int, dim: Int = 64): Seq[(Long, Array[Float])] = {
    val r = rng(seed, 2)
    val centres = Array.fill(10) {
      val c = Array.fill(dim)(r.nextGaussian())
      val norm = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / norm)
    }
    (0 until n).map { i =>
      val c = centres(r.nextInt(centres.length))
      (i.toLong, c.map(x => (x + 0.1 * r.nextGaussian()).toFloat))
    }
  }

  /** Tall observations (sig, ts, value): `nSig` signals of `nObs`
    * 6-minute readings from 2020-01-01, about 10% of them removed in
    * seeded gaps of 1 to 20 readings; values carry two decimals. */
  def signals(seed: Long, nSig: Int, nObs: Int)
      : Seq[(Int, java.sql.Timestamp, Double)] = {
    val r = rng(seed, 3)
    val gaps = shape(3)
    val t0 = java.time.Instant.parse("2020-01-01T00:00:00Z").toEpochMilli
    (0 until nSig).flatMap { s =>
      val amp = 5.0 + 10.0 * r.nextDouble()
      val phase = r.nextDouble() * 2 * math.Pi
      var gap = 0
      (0 until nObs).flatMap { i =>
        if (gap == 0 && gaps.nextDouble() < 0.0095) gap = 1 + gaps.nextInt(20)
        if (gap > 0) { gap -= 1; None }
        else {
          val v = amp * math.sin(i * 2 * math.Pi / 240 + phase) +
            r.nextGaussian()
          Some((s, new java.sql.Timestamp(t0 + i * 360000L),
            math.round(v * 100) / 100.0))
        }
      }
    }
  }
}

/** Order-independent output hashes. */
object Hash {
  /** Hash of collected rows, independent of their order. */
  def rows(rs: Seq[org.apache.spark.sql.Row]): String =
    f"${scala.util.hashing.MurmurHash3.seqHash(rs.map(_.toString).sorted)}%08x:${rs.size}"

  /** Hash of a frame computed in the engine, for frames too big to
    * collect. */
  def of(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*)
        .cast("decimal(38,0)").as("_h"))
      .agg(sum(col("_h")), count(lit(1))).head()
    s"${r.get(0)}:${r.getLong(1)}"
  }

  /** The frame without one of its rows: the self-test's mutation. */
  def dropOne(df: DataFrame): DataFrame = df.exceptAll(df.limit(1))
}
