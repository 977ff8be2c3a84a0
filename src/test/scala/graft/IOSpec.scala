package graft

import graft.core.{MeteauDataset, MeteauSignal, Observations}
import graft.io.SignalIO
import graft.model._
import graft.ops._
import org.apache.spark.sql.functions._

/** Persistence round-trip fidelity (reference parity: save→load deep
  * equality, tests/test_metEAUdata.py:183-201; JSON serde,
  * tests/test_serialization.py; index-metadata reconstruction,
  * tests/test_index_metadata.py). */
class IOSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(): MeteauDataset = {
    val rows = (0 until 50).map { i =>
      (java.sql.Timestamp.from(java.time.Instant.parse("2020-01-01T00:00:00Z")
        .plusSeconds(i * 360L)), i * 1.5)
    }
    val df = rows.toDF(Observations.TsCol, Observations.ValueCol)
    val a = MeteauSignal.ingest(df, "A", "mg/l",
        DataProvenance(sourceRepository = Some("random generation"),
          project = Some("metadata chapter"), parameter = Some("COD"),
          metadataId = Some("1")),
        index = IndexMeta(IndexKind.DatetimeIndex, frequency = Some("6min"),
          timeZone = Some("UTC")))
      .process(Seq("A#1_RAW#1"), Resample, Parameters.of("frequency" -> "5min"),
        runAt = 42L)
      .process(Seq("A#1_RESAMPLED#1"), Interpolate, runAt = 43L)
    val b = MeteauSignal.ingest(df, "B", "g/m3")
    MeteauDataset.of("fixture", Seq(a, b), description = "test ds",
      owner = "graft", purpose = "tests", project = "round-trip")
  }

  test("concurrent fixture writers: a failure is rethrown only after a slower sibling finishes writing") {
    val out = "/tmp/graft_test_concurrently"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    val e = intercept[IllegalStateException] {
      SparkEntry.concurrently(Seq("fails", "writes")) {
        case "fails" => throw new IllegalStateException("build failed")
        case _ =>
          Thread.sleep(500)
          spark.range(1000).write.parquet(out)
      }
    }
    assert(e.getMessage == "build failed")
    // the sibling's write committed before the failure reached the caller
    assert(new java.io.File(s"$out/_SUCCESS").exists(),
      "failure rethrown while a sibling writer was still running")
  }

  test("Artifact: a build that fails mid-write caches nothing; the retry starts from an empty scratch root") {
    val dir = "/spec/artifact_retry"
    var attempts = 0
    val art = SparkEntry.Artifact("specRetry") { (s, d) =>
      attempts += 1
      val root = SparkEntry.scratch("spec_retry", d)
      val seen = Option(new java.io.File(root).list()).toSeq.flatten
      s.range(attempts * 10L).write.parquet(s"$root/attempt$attempts")
      if (attempts == 1) throw new IllegalStateException("killed mid-build")
      (seen, root)
    }
    intercept[IllegalStateException](art(spark, dir))
    assert(!SparkEntry.buildWalls.contains(s"specRetry:$dir"),
      "a failed build must not record a wall")
    val (seen, root) = art(spark, dir)
    assert(attempts == 2, "the failed build must not be cached")
    assert(seen.isEmpty, s"the retry saw the failed attempt's files: $seen")
    assert(new java.io.File(root).list().toSeq == Seq("attempt2"))
    assert(spark.read.parquet(s"$root/attempt2").count() == 20L)
  }

  test("Artifact: the building session gets the cached value, another session a fresh build") {
    var builds = 0
    val art = SparkEntry.Artifact("specSession") { (s, _) =>
      builds += 1
      s.range(3)
    }
    val first = art(spark, "d")
    assert(art(spark, "d") eq first)
    assert(builds == 1)
    val other = spark.newSession()
    val rebuilt = art(other, "d")
    assert(builds == 2)
    assert(rebuilt.sparkSession eq other)
    assert(art(other, "d") eq rebuilt)
    assert(builds == 2)
  }

  test("Artifact: each build records exactly one name:dir wall") {
    val art = SparkEntry.Artifact("specWall") { (_, d) => d.length }
    def walls = SparkEntry.buildWalls.keySet.filter(_.startsWith("specWall:"))
    art(spark, "x1")
    assert(walls == Set("specWall:x1"))
    art(spark, "x1")
    art(spark, "x2")
    assert(walls == Set("specWall:x1", "specWall:x2"))
  }

  test("catalog JSON round trip is lossless (all levels)") {
    val meta = fixture().meta
    val back = SignalIO.fromJson(SignalIO.toJson(meta))
    assert(back == meta)
  }

  test("index metadata of every kind survives JSON round trip") {
    val kinds = Seq(
      IndexMeta(IndexKind.DatetimeIndex, Some("t"), "timestamp", Some("D"), Some("UTC")),
      IndexMeta(IndexKind.DatetimeIndex, None, "timestamp", Some("D"), None),
      IndexMeta(IndexKind.TimedeltaIndex, Some("d"), "interval"),
      IndexMeta(IndexKind.PeriodIndex, Some("p"), "period", Some("M")),
      IndexMeta(IndexKind.IntervalIndex, Some("iv"), "interval", closed = Some("left")),
      IndexMeta(IndexKind.CategoricalIndex, Some("c"), "string",
        categories = Seq("a", "b", "c"), ordered = Some(false)),
      IndexMeta(IndexKind.RangeIndex, Some("r"), "long",
        start = Some(0L), end = Some(3L), step = Some(1L)),
      IndexMeta(IndexKind.PlainIndex, Some("x"), "double"))
    kinds.foreach { ix =>
      val meta = DatasetMeta("m", signals = Vector(SignalMeta("S#1", "u",
        series = Vector(SeriesMeta("S#1_RAW#1", index = ix)))))
      val back = SignalIO.fromJson(SignalIO.toJson(meta))
      assert(back.signals.head.series.head.index == ix, s"kind ${ix.kind}")
    }
  }

  test("parquet save/load round trip: metadata equal, data equal") {
    val ds = fixture()
    val path = "/tmp/graft_test_rt_parquet"
    SignalIO.save(ds, path)
    val back = SignalIO.load(spark, path)
    assert(back.meta == ds.meta)
    assert(graft.core.DataEquality.sameDataset(back, ds))
    val orig = ds.data.orderBy(Observations.KeyCol, Observations.TsCol).collect()
    val got = back.data.select(Observations.KeyCol, Observations.TsCol,
      Observations.ValueCol).orderBy(Observations.KeyCol, Observations.TsCol).collect()
    assert(got.length == orig.length)
    // column order differs after partitionBy; compare field-wise
    orig.zip(got).foreach { case (o, g) =>
      assert(g.getAs[String](Observations.KeyCol) == o.getAs[String](Observations.KeyCol))
      assert(g.getAs[java.sql.Timestamp](Observations.TsCol) == o.getAs[java.sql.Timestamp](Observations.TsCol))
      val ov = o.getAs[Any](Observations.ValueCol)
      val gv = g.getAs[Any](Observations.ValueCol)
      assert((ov == null && gv == null) || ov == gv)
    }
  }

  test("a save whose data write fails leaves no catalog, so load fails") {
    val ds = fixture()
    val path = "/tmp/graft_test_save_crash"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    SignalIO.save(ds, path)
    val metaFile = new java.io.File(s"$path/metadata.json")
    assert(metaFile.exists())
    val failing = ds.copy(data = ds.data.withColumn(Observations.ValueCol,
      when(col(Observations.ValueCol) > 60.0, raise_error(lit("killed mid-save")))
        .otherwise(col(Observations.ValueCol))))
    intercept[Exception](SignalIO.save(failing, path))
    assert(!metaFile.exists(), "the old catalog outlived a failed save")
    intercept[Exception](SignalIO.load(spark, path))
    // a completed save publishes the catalog again, and no temp file stays
    SignalIO.save(ds, path)
    assert(SignalIO.load(spark, path).meta == ds.meta)
    assert(new java.io.File(path).list().toSet.filter(_.contains("tmp")).isEmpty)
  }

  test("CSV degrade + metadata reconstruct round trip (reference semantics)") {
    val ds = fixture()
    val path = "/tmp/graft_test_rt_csv"
    SignalIO.save(ds, path, format = "csv")
    val back = SignalIO.load(spark, path, format = "csv")
    assert(back.meta == ds.meta)
    // values come back as doubles despite the string sink
    val origSum = ds.data.agg(sum(Observations.ValueCol)).as[Double].head()
    val gotSum = back.data.agg(sum(Observations.ValueCol)).as[Double].head()
    assert(math.abs(origSum - gotSum) < 1e-6)
    assert(back.data.schema(Observations.ValueCol).dataType.typeName == "double")
    assert(back.data.schema(Observations.TsCol).dataType.typeName == "timestamp")
  }

  test("zip export round trip (reference save layout: dataset/signal/series.csv + metadata)") {
    val ds = fixture()
    val file = "/tmp/graft_test_rt.zip"
    SignalIO.saveZip(ds, file)
    // layout check: reference-style nested paths
    val zf = new java.util.zip.ZipFile(file)
    val names = {
      import scala.jdk.CollectionConverters._
      zf.entries().asScala.map(_.getName).toSet
    }
    zf.close()
    assert(names.contains("fixture/metadata.json"))
    assert(names.contains("fixture/A#1/A#1_RAW#1.csv"))
    assert(names.contains("fixture/A#1/A#1_LIN-INT#1.csv"))
    assert(names.contains("fixture/B#1/B#1_RAW#1.csv"))
    val back = SignalIO.loadZip(spark, file)
    assert(back.meta == ds.meta)
    val origSum = ds.data.agg(sum(Observations.ValueCol)).as[Double].head()
    val gotSum = back.data.agg(sum(Observations.ValueCol)).as[Double].head()
    assert(math.abs(origSum - gotSum) < 1e-6)
    assert(back.data.count() == ds.data.count())
  }

  test("non-double values_dtype is inferred at ingest and re-imposed on load") {
    def ts(i: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2020-01-01T00:00:00Z").plusSeconds(i * 60L))
    // STRING state series (reference any-dtype, types.py:264-290)
    val sdf = Seq((ts(0), "on"), (ts(1), "off"), (ts(2), "on"))
      .toDF(Observations.TsCol, Observations.ValueCol)
    val ssig = MeteauSignal.ingest(sdf, "ST", "state")
    assert(ssig.meta.series.head.valuesDtype == "string")
    // the type-agnostic operators run on it through the engine executor
    val deduped = ssig.process(Seq("ST#1_RAW#1"), DedupTimestamps)
    assert(deduped.series("ST#1_DEDUP-TS#1").count() == 3)
    val sds = MeteauDataset.of("strds", Seq(ssig))
    val spath = "/tmp/graft_test_rt_dtype_str"
    SignalIO.save(sds, spath)
    val sback = SignalIO.load(spark, spath)
    assert(sback.data.schema(Observations.ValueCol).dataType.typeName == "string")
    assert(sback.meta.signals.head.series.head.valuesDtype == "string")
    assert(sback.data.orderBy(Observations.TsCol)
      .select(Observations.ValueCol).as[String].collect().toSeq ==
      Seq("on", "off", "on"))
    // the CSV degrade path reconstructs the catalog dtype, not double
    SignalIO.save(sds, spath + "_csv", format = "csv")
    val scsv = SignalIO.load(spark, spath + "_csv", format = "csv")
    assert(scsv.data.schema(Observations.ValueCol).dataType.typeName == "string")
    // LONG-valued series survives parquet and CSV the same way
    val ldf = Seq((ts(0), 1L), (ts(1), 2L)).toDF(Observations.TsCol, Observations.ValueCol)
    val lsig = MeteauSignal.ingest(ldf, "CNT", "count")
    assert(lsig.meta.series.head.valuesDtype == "bigint")
    val lds = MeteauDataset.of("longds", Seq(lsig))
    val lpath = "/tmp/graft_test_rt_dtype_long"
    SignalIO.save(lds, lpath, format = "csv")
    val lback = SignalIO.load(spark, lpath, format = "csv")
    assert(lback.data.schema(Observations.ValueCol).dataType.typeName == "long")
    assert(lback.data.agg(sum(Observations.ValueCol)).as[Long].head() == 3L)
  }

  test("loads an archive written by the reference implementation (YAML metadata)") {
    // fixture generated by running the ACTUAL reference package
    // (meteaudata Dataset.save): 24 hourly points 1..24, resampled to 2h
    val path = getClass.getResource("/interop_ds.zip").getPath
    val ds = SignalIO.loadReferenceZip(spark, path)
    assert(ds.meta.name == "interop_ds")
    assert(ds.meta.description == "reference-format fixture")
    val sig = ds.signal("A#1")
    assert(sig.meta.units == "mg/l")
    assert(sig.meta.provenance.parameter.contains("COD"))
    assert(sig.seriesKeys.toSet == Set("A#1_RAW#1", "A#1_RESAMPLED#1"))
    // numpy float64 → Spark double; DatetimeIndex kind mapped
    val raw = sig.meta.seriesMeta("A#1_RAW#1").get
    assert(raw.valuesDtype == "double")
    assert(raw.index.kind == IndexKind.DatetimeIndex)
    // lineage: the reference's resample step with its captured source
    val steps = sig.meta.seriesMeta("A#1_RESAMPLED#1").get.steps
    assert(steps.map(_.functionInfo.name) == Seq("resample"))
    assert(steps.head.stepType == ProcessingType.Resampling)
    assert(steps.head.parameters.get("frequency").contains("2h"))
    assert(steps.head.inputSeriesNames == Seq("A#1_RAW#1"))
    assert(steps.head.functionInfo.sourceDescription.exists(_.contains("def resample(")))
    // data fidelity: 24 raw points summing 300; 12 two-hour means summing 150
    assert(sig.series("A#1_RAW#1").count() == 24)
    assert(sig.series("A#1_RESAMPLED#1").count() == 12)
    val sums = ds.data.groupBy(Observations.KeyCol)
      .agg(sum(Observations.ValueCol).as("s"))
      .as[(String, Double)].collect().toMap
    assert(math.abs(sums("A#1_RAW#1") - 300.0) < 1e-9)
    assert(math.abs(sums("A#1_RESAMPLED#1") - 150.0) < 1e-9)
    // the loaded dataset keeps processing through the engine
    val resumed = ds.signal("A#1")
      .process(Seq("A#1_RESAMPLED#1"), ScaleValues, Parameters.of("factor" -> "2.0"))
    assert(resumed.series("A#1_DBL#1").count() == 12)
  }

  test("loads a reference SIGNAL archive with a PeriodIndex series") {
    // signal-only zip written by the actual reference package: 12 monthly
    // periods ("2024-01".."2024-12"), values 5..16
    val path = getClass.getResource("/interop_signal_period.zip").getPath
    val ds = SignalIO.loadReferenceZip(spark, path)
    val sig = ds.signal("P#1")
    assert(sig.meta.units == "kg")
    val sm = sig.meta.seriesMeta("P#1_RAW#1").get
    assert(sm.index.kind == IndexKind.PeriodIndex)
    assert(sm.index.frequency.contains("M"))
    assert(sm.index.dtype == "period[M]")
    // period labels land on month starts on the timestamp axis
    val rows = sig.series("P#1_RAW#1")
      .orderBy(Observations.TsCol)
      .select(date_format(col(Observations.TsCol), "yyyy-MM-dd"),
        col(Observations.ValueCol))
      .as[(String, Double)].collect().toSeq
    assert(rows.length == 12)
    assert(rows.head == (("2024-01-01", 5.0)))
    assert(rows.last == (("2024-12-01", 16.0)))
    // and the calendar-frequency operator runs on it directly
    val monthly = sig.process(Seq("P#1_RAW#1"), ResampleCalendar,
      Parameters.of("frequency" -> "MS"))
    assert(monthly.series("P#1_RESAMPLED-CAL#1").count() == 12)
  }

  test("loads a reference SIGNAL archive with a TimedeltaIndex series") {
    // reference-written zip: 10 points on a 6-min timedelta axis
    val path = getClass.getResource("/interop_signal_timedelta.zip").getPath
    val ds = SignalIO.loadReferenceZip(spark, path)
    val sig = ds.signal("TD#1")
    val sm = sig.meta.seriesMeta("TD#1_RAW#1").get
    assert(sm.index.kind == IndexKind.TimedeltaIndex)
    assert(sm.index.dtype == "timedelta64[ns]")
    assert(sm.index.frequency.contains("6min"))
    // timedeltas land as offsets from the epoch on the ts axis
    val rows = sig.series("TD#1_RAW#1")
      .orderBy(Observations.TsCol)
      .select(col(Observations.TsCol).cast("long"), col(Observations.ValueCol))
      .as[(Long, Double)].collect().toSeq
    assert(rows.length == 10)
    assert(rows.head == ((0L, 1.0)))
    assert(rows(1) == ((360L, 2.0)))
    assert(rows.last == ((9L * 360L, 10.0)))
    // the reference's own resample supports Timedelta indexes — ours too
    val res = sig.process(Seq("TD#1_RAW#1"), Resample,
      Parameters.of("frequency" -> "12min", "grid" -> "false"))
    assert(res.series("TD#1_RESAMPLED#1").count() == 5)
  }

  test("loads reference SIGNAL archives with Interval and Categorical indexes") {
    // interval index (0,1.5](1.5,3](3,4.5](4.5,6], values 10..40: axis =
    // left bounds; kind/closed preserved for reconstruction
    val ivPath = getClass.getResource("/interop_signal_interval.zip").getPath
    val iv = SignalIO.loadReferenceZip(spark, ivPath).signal("IV#1")
    val ivm = iv.meta.seriesMeta("IV#1_RAW#1").get
    assert(ivm.index.kind == IndexKind.IntervalIndex)
    assert(ivm.index.closed.contains("right"))
    val ivRows = iv.series("IV#1_RAW#1").orderBy(Observations.TsCol)
      .select(col(Observations.TsCol).cast("double"), col(Observations.ValueCol))
      .as[(Double, Double)].collect().toSeq
    assert(ivRows == Seq((0.0, 10.0), (1.5, 20.0), (3.0, 30.0), (4.5, 40.0)))
    // categorical index low/mid/high (ordered, "mid" repeated): axis =
    // ordinal in the declared category order; categories preserved
    val catPath = getClass.getResource("/interop_signal_categorical.zip").getPath
    val cat = SignalIO.loadReferenceZip(spark, catPath).signal("CAT#1")
    val cm = cat.meta.seriesMeta("CAT#1_RAW#1").get
    assert(cm.index.kind == IndexKind.CategoricalIndex)
    assert(cm.index.categories == Seq("low", "mid", "high"))
    assert(cm.index.ordered.contains(true))
    val catRows = cat.series("CAT#1_RAW#1")
      .orderBy(Observations.TsCol, Observations.ValueCol)
      .select(col(Observations.TsCol).cast("long"), col(Observations.ValueCol))
      .as[(Long, Double)].collect().toSeq
    assert(catRows == Seq((0L, 1.0), (1L, 2.0), (1L, 4.0), (2L, 3.0)))
  }

  test("reference-format export round-trips through our own loader") {
    val ds = fixture()
    val file = "/tmp/graft_ref_export.zip"
    SignalIO.saveReferenceZip(ds, file)
    // layout is the reference's Dataset.save shape
    val zf = new java.util.zip.ZipFile(file)
    val names = {
      import scala.jdk.CollectionConverters._
      zf.entries().asScala.map(_.getName).toSet
    }
    zf.close()
    assert(names.contains("fixture_metadata.yaml"))
    assert(names.contains("fixture_data/A#1_metadata.yaml"))
    assert(names.contains("fixture_data/A#1_data/A#1_RAW#1.csv"))
    assert(names.contains("fixture_data/B#1_data/B#1_RAW#1.csv"))
    val back = SignalIO.loadReferenceZip(spark, file)
    assert(back.meta.name == ds.meta.name)
    assert(back.signals.map(_.meta.name) == ds.signals.map(_.meta.name))
    val sigA = back.signal("A#1")
    assert(sigA.seriesKeys.toSet == ds.signal("A#1").seriesKeys.toSet)
    assert(sigA.meta.seriesMeta("A#1_LIN-INT#1").get.steps
      .map(_.functionInfo.name) == Seq("resample", "linear_interpolation"))
    assert(sigA.meta.seriesMeta("A#1_RAW#1").get.valuesDtype == "double")
    // data fidelity through the pandas-CSV degrade
    val origSum = ds.data.agg(sum(Observations.ValueCol)).as[Double].head()
    val gotSum = back.data.agg(sum(Observations.ValueCol)).as[Double].head()
    assert(math.abs(origSum - gotSum) < 1e-6)
    assert(back.data.count() == ds.data.count())
  }

  test("non-datetime index labels survive an export/import cycle") {
    // categorical: ordinal axis back to category strings in the CSV
    val catPath = getClass.getResource("/interop_signal_categorical.zip").getPath
    val cat = SignalIO.loadReferenceZip(spark, catPath)
    val out = "/tmp/graft_ref_export_cat.zip"
    SignalIO.saveReferenceZip(cat, out)
    val zf = new java.util.zip.ZipFile(out)
    val csv = {
      import scala.jdk.CollectionConverters._
      val e = zf.entries().asScala.find(_.getName.endsWith(".csv")).get
      new String(zf.getInputStream(e).readAllBytes(), "UTF-8")
    }
    zf.close()
    assert(csv.contains("low,1.0") && csv.contains("high,3.0"), csv)
    val back = SignalIO.loadReferenceZip(spark, out)
    assert(back.data.count() == cat.data.count())
    // timedelta: epoch offsets back to "N days HH:MM:SS" labels
    val tdPath = getClass.getResource("/interop_signal_timedelta.zip").getPath
    val td = SignalIO.loadReferenceZip(spark, tdPath)
    val out2 = "/tmp/graft_ref_export_td.zip"
    SignalIO.saveReferenceZip(td, out2)
    val zf2 = new java.util.zip.ZipFile(out2)
    val csv2 = {
      import scala.jdk.CollectionConverters._
      val e = zf2.entries().asScala.find(_.getName.endsWith(".csv")).get
      new String(zf2.getInputStream(e).readAllBytes(), "UTF-8")
    }
    zf2.close()
    assert(csv2.contains("0 days 00:06:00,2.0"), csv2)
    val back2 = SignalIO.loadReferenceZip(spark, out2)
    assert(back2.data.count() == td.data.count())
  }

  test("mixed-dtype dataset round-trips without data loss (string + double)") {
    def ts(i: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2020-01-01T00:00:00Z").plusSeconds(i * 60L))
    val num = MeteauSignal.ingest(
      Seq((ts(0), 1.5), (ts(1), 2.5), (ts(2), 3.25))
        .toDF(Observations.TsCol, Observations.ValueCol), "NUM", "mg/l")
    val st = MeteauSignal.ingest(
      Seq((ts(0), "on"), (ts(1), "off"), (ts(2), "on"))
        .toDF(Observations.TsCol, Observations.ValueCol), "ST", "state")
    val ds = MeteauDataset.of("mixed", Seq(num, st))
    for (fmt <- Seq("parquet", "csv")) {
      val path = s"/tmp/graft_test_rt_mixed_$fmt"
      SignalIO.save(ds, path, format = fmt)
      val back = SignalIO.load(spark, path, format = fmt)
      // the carrier frame is lossless strings, never a nulling double cast
      assert(back.data.schema(Observations.ValueCol).dataType.typeName == "string")
      assert(back.data.filter(col(Observations.ValueCol).isNull).count() == 0,
        s"$fmt: mixed-dtype load nulled values")
      // series() re-imposes each series' catalog dtype
      val numSeries = back.signal("NUM#1").series("NUM#1_RAW#1")
      assert(numSeries.schema(Observations.ValueCol).dataType.typeName == "double")
      assert(numSeries.agg(sum(Observations.ValueCol)).as[Double].head() == 7.25)
      val stSeries = back.signal("ST#1").series("ST#1_RAW#1")
      assert(stSeries.schema(Observations.ValueCol).dataType.typeName == "string")
      assert(stSeries.orderBy(Observations.TsCol)
        .select(Observations.ValueCol).as[String].collect().toSeq ==
        Seq("on", "off", "on"))
    }
    // the engine-format zip path carries the same guarantees
    val file = "/tmp/graft_test_rt_mixed.zip"
    SignalIO.saveZip(ds, file)
    val back = SignalIO.loadZip(spark, file)
    assert(back.signal("NUM#1").series("NUM#1_RAW#1")
      .agg(sum(Observations.ValueCol)).as[Double].head() == 7.25)
    assert(back.signal("ST#1").series("ST#1_RAW#1")
      .select(Observations.ValueCol).as[String].collect().toSet == Set("on", "off"))
  }

  test("string values with commas/quotes/newlines survive both zip formats") {
    def ts(i: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2020-01-01T00:00:00Z").plusSeconds(i * 3600L))
    val tricky = Seq("plain", "a,b \"quoted\"", "line1\nline2", "trail,")
    val sig = MeteauSignal.ingest(
      tricky.zipWithIndex.map { case (v, i) => (ts(i), v) }
        .toDF(Observations.TsCol, Observations.ValueCol), "QT", "state")
    val ds = MeteauDataset.of("quoted", Seq(sig))
    SignalIO.saveZip(ds, "/tmp/graft_test_quoted.zip")
    val back = SignalIO.loadZip(spark, "/tmp/graft_test_quoted.zip")
    assert(back.data.orderBy(Observations.TsCol)
      .select(Observations.ValueCol).as[String].collect().toSeq == tricky)
    SignalIO.saveReferenceZip(ds, "/tmp/graft_test_quoted_ref.zip")
    val backRef = SignalIO.loadReferenceZip(spark, "/tmp/graft_test_quoted_ref.zip")
    assert(backRef.data.orderBy(Observations.TsCol)
      .select(Observations.ValueCol).as[String].collect().toSeq == tricky)
    // and pandas' own quoting (fixture written by the reference package)
    val path = getClass.getResource("/interop_signal_quoted.zip").getPath
    val ref = SignalIO.loadReferenceZip(spark, path)
    assert(ref.data.orderBy(Observations.TsCol)
      .select(Observations.ValueCol).as[String].collect().toSeq ==
      Seq("plain", "a,b \"quoted\"", "line1\nline2"))
  }

  test("sub-second timestamps keep µs labels in reference-format exports") {
    // reference-written µs fixture loads with full precision
    val path = getClass.getResource("/interop_signal_subsec.zip").getPath
    val ref = SignalIO.loadReferenceZip(spark, path)
    val micros = ref.data.orderBy(Observations.TsCol)
      .select(unix_micros(col(Observations.TsCol)))
      .as[Long].collect().toSeq
    assert(micros.map(_ % 1000000L) == Seq(250000L, 500000L, 750123L, 0L))
    // engine export writes µs labels — no duplicate-label collapse (r3 bug)
    SignalIO.saveReferenceZip(ref, "/tmp/graft_test_subsec_ref.zip")
    val zf = new java.util.zip.ZipFile("/tmp/graft_test_subsec_ref.zip")
    val csv = {
      import scala.jdk.CollectionConverters._
      val e = zf.entries().asScala.find(_.getName.endsWith(".csv")).get
      new String(zf.getInputStream(e).readAllBytes(), "UTF-8")
    }
    zf.close()
    assert(csv.contains("2024-01-01 00:00:00.750123,3.0"), csv)
    val back = SignalIO.loadReferenceZip(spark, "/tmp/graft_test_subsec_ref.zip")
    assert(back.data.orderBy(Observations.TsCol)
      .select(unix_micros(col(Observations.TsCol)))
      .as[Long].collect().toSeq == micros)
    // whole-second data still gets pandas' second-precision labels
    val ds2 = fixture()
    SignalIO.saveReferenceZip(ds2, "/tmp/graft_test_wholesec_ref.zip")
    val zf2 = new java.util.zip.ZipFile("/tmp/graft_test_wholesec_ref.zip")
    val csv2 = {
      import scala.jdk.CollectionConverters._
      val e = zf2.entries().asScala.find(_.getName.endsWith("A#1_RAW#1.csv")).get
      new String(zf2.getInputStream(e).readAllBytes(), "UTF-8")
    }
    zf2.close()
    assert(csv2.contains("2020-01-01 00:06:00,1.5"), csv2)
  }

  test("weekly-period reference archives load and export the range labels") {
    val path = getClass.getResource("/interop_signal_weekly.zip").getPath
    val ds = SignalIO.loadReferenceZip(spark, path)
    val sm = ds.signal("WK#1").meta.seriesMeta("WK#1_RAW#1").get
    assert(sm.index.kind == IndexKind.PeriodIndex)
    assert(sm.index.frequency.contains("W-SUN"))
    // the period START anchors the axis point
    val rows = ds.data.orderBy(Observations.TsCol)
      .select(date_format(col(Observations.TsCol), "yyyy-MM-dd"),
        col(Observations.ValueCol))
      .as[(String, Double)].collect().toSeq
    assert(rows.head == (("2024-01-01", 1.0)))
    assert(rows.last == (("2024-02-05", 6.0)))
    // export reproduces pandas' 'start/end' range labels
    SignalIO.saveReferenceZip(ds, "/tmp/graft_test_weekly_ref.zip")
    val zf = new java.util.zip.ZipFile("/tmp/graft_test_weekly_ref.zip")
    val csv = {
      import scala.jdk.CollectionConverters._
      val e = zf.entries().asScala.find(_.getName.endsWith(".csv")).get
      new String(zf.getInputStream(e).readAllBytes(), "UTF-8")
    }
    zf.close()
    assert(csv.contains("2024-01-01/2024-01-07,1.0"), csv)
    assert(csv.contains("2024-02-05/2024-02-11,6.0"), csv)
    val back = SignalIO.loadReferenceZip(spark, "/tmp/graft_test_weekly_ref.zip")
    assert(back.data.count() == 6)
  }

  // Export parity bar is BYTE FORMAT (identical labels to the reference's
  // own Signal.save output): the reference package cannot load interval
  // archives at all — its reconstruct_index calls pd.IntervalIndex(...) on
  // the CSV's string labels and pandas raises TypeError, an upstream bug
  // reproduced against /root/reference on its own export (types.py:146-147).
  test("interval index exports pandas '(a, b]' labels (r3 degraded to left bounds)") {
    val path = getClass.getResource("/interop_signal_interval.zip").getPath
    val ds = SignalIO.loadReferenceZip(spark, path)
    SignalIO.saveReferenceZip(ds, "/tmp/graft_test_interval_ref.zip")
    val zf = new java.util.zip.ZipFile("/tmp/graft_test_interval_ref.zip")
    val csv = {
      import scala.jdk.CollectionConverters._
      val e = zf.entries().asScala.find(_.getName.endsWith(".csv")).get
      new String(zf.getInputStream(e).readAllBytes(), "UTF-8")
    }
    zf.close()
    // the exact labels pandas wrote, re-quoted (commas inside)
    assert(csv.contains("\"(0.0, 1.5]\",10.0"), csv)
    assert(csv.contains("\"(4.5, 6.0]\",40.0"), csv)
    val back = SignalIO.loadReferenceZip(spark, "/tmp/graft_test_interval_ref.zip")
    assert(back.data.orderBy(Observations.TsCol)
      .select(col(Observations.TsCol).cast("double"), col(Observations.ValueCol))
      .as[(Double, Double)].collect().toSeq ==
      Seq((0.0, 10.0), (1.5, 20.0), (3.0, 30.0), (4.5, 40.0)))
    // engine-built contiguous interval series (no stored labels) exports
    // successor-left bounds
    val eng = MeteauSignal.ingest(
      Seq((new java.sql.Timestamp(0L), 1.0),
        (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(2L)), 2.0),
        (java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(4L)), 3.0))
        .toDF(Observations.TsCol, Observations.ValueCol), "EI", "u",
      index = IndexMeta(IndexKind.IntervalIndex, dtype = "interval[float64, right]",
        closed = Some("right")))
    SignalIO.saveReferenceZip(MeteauDataset.of("ei", Seq(eng)),
      "/tmp/graft_test_interval_eng.zip")
    val zf2 = new java.util.zip.ZipFile("/tmp/graft_test_interval_eng.zip")
    val csv2 = {
      import scala.jdk.CollectionConverters._
      val e = zf2.entries().asScala.find(_.getName.endsWith(".csv")).get
      new String(zf2.getInputStream(e).readAllBytes(), "UTF-8")
    }
    zf2.close()
    assert(csv2.contains("\"(0.0, 2.0]\",1.0"), csv2)
    assert(csv2.contains("\"(4.0, 6.0]\",3.0"), csv2)
  }

  test("timedelta archive: load, process on the µs axis, export round trip") {
    val path = getClass.getResource("/interop_signal_timedelta.zip").getPath
    val ds = SignalIO.loadReferenceZip(spark, path)
    // resample through the ENGINE EXECUTOR with a timedelta frequency —
    // the reference's resample-on-TimedeltaIndex contract, no manual
    // axis conversion by the caller
    val sig = ds.signal("TD#1").process(Seq("TD#1_RAW#1"), ResampleTimedelta,
      Parameters.of("frequency" -> "12min", "grid" -> "true"))
    val out = sig.series("TD#1_RESAMPLED#1")
      .orderBy(Observations.TsCol)
      .select(col(Observations.TsCol).cast("long"), col(Observations.ValueCol))
      .as[(Long, Double)].collect().toSeq
    // 10 points 1..10 at 6-min spacing -> 5 12-min buckets of pair means
    assert(out == Seq((0L, 1.5), (720L, 3.5), (1440L, 5.5),
      (2160L, 7.5), (2880L, 9.5)))
    assert(sig.meta.seriesMeta("TD#1_RESAMPLED#1").get
      .index.frequency.contains("12min"))
    // export: processed series keeps "N days HH:MM:SS" timedelta labels
    val processed = graft.core.MeteauDataset(sig.data,
      ds.meta.copy(signals = Vector(sig.meta)), Vector(sig))
    SignalIO.saveReferenceZip(processed, "/tmp/graft_test_td_rt.zip")
    val zf = new java.util.zip.ZipFile("/tmp/graft_test_td_rt.zip")
    val csv = {
      import scala.jdk.CollectionConverters._
      val e = zf.entries().asScala
        .find(_.getName.endsWith("TD#1_RESAMPLED#1.csv")).get
      new String(zf.getInputStream(e).readAllBytes(), "UTF-8")
    }
    zf.close()
    assert(csv.contains("0 days 00:12:00,3.5"), csv)
    val back = SignalIO.loadReferenceZip(spark, "/tmp/graft_test_td_rt.zip")
    assert(back.signal("TD#1").series("TD#1_RESAMPLED#1")
      .orderBy(Observations.TsCol)
      .select(col(Observations.TsCol).cast("long"), col(Observations.ValueCol))
      .as[(Long, Double)].collect().toSeq == out)
  }

  test("signal-level reference export round-trips (Signal.save layout)") {
    val path = getClass.getResource("/interop_signal_period.zip").getPath
    val sig = SignalIO.loadReferenceZip(spark, path).signal("P#1")
    SignalIO.saveReferenceSignalZip(sig, "/tmp/graft_test_signal_ref.zip")
    val zf = new java.util.zip.ZipFile("/tmp/graft_test_signal_ref.zip")
    val names = {
      import scala.jdk.CollectionConverters._
      zf.entries().asScala.map(_.getName).toSet
    }
    zf.close()
    assert(names == Set("P#1_metadata.yaml", "P#1_data/P#1_RAW#1.csv"))
    val back = SignalIO.loadReferenceZip(spark, "/tmp/graft_test_signal_ref.zip")
    val bsig = back.signal("P#1")
    assert(bsig.meta.units == sig.meta.units)
    assert(bsig.meta.seriesMeta("P#1_RAW#1").get.index.frequency.contains("M"))
    assert(bsig.series("P#1_RAW#1").count() == 12)
  }

  test("zip load paths refuse archives larger than the driver guard") {
    val ds = fixture()
    SignalIO.saveZip(ds, "/tmp/graft_test_guard.zip")
    val e1 = intercept[IllegalArgumentException] {
      SignalIO.loadZip(spark, "/tmp/graft_test_guard.zip", maxBytes = 10L)
    }
    assert(e1.getMessage.contains("CSV payload"))
    SignalIO.saveReferenceZip(ds, "/tmp/graft_test_guard_ref.zip")
    val e2 = intercept[IllegalArgumentException] {
      SignalIO.loadReferenceZip(spark, "/tmp/graft_test_guard_ref.zip", maxBytes = 10L)
    }
    assert(e2.getMessage.contains("CSV payload"))
  }

  test("partitioned save prunes partitions for single-series reads") {
    val ds = fixture()
    val path = "/tmp/graft_test_rt_prune"
    SignalIO.save(ds, path)
    val back = SignalIO.load(spark, path)
    val plan = back.signal("A#1").series("A#1_RAW#1")
      .queryExecution.executedPlan.toString
    // the series_key filter must reach the scan as a partition filter
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("series_key"),
      s"expected partition pruning on series_key in:\n${plan.take(1500)}")
  }

  test("loaded dataset keeps processing: resume the pipeline after load") {
    val ds = fixture()
    val path = "/tmp/graft_test_rt_resume"
    SignalIO.save(ds, path)
    val back = SignalIO.load(spark, path)
    val resumed = back.signal("A#1")
      .process(Seq("A#1_LIN-INT#1"), ScaleValues, Parameters.of("factor" -> "2.0"))
    assert(resumed.seriesKeys.contains("A#1_DBL#1"))
    assert(resumed.series("A#1_DBL#1").count() > 0)
    val steps = resumed.meta.seriesMeta("A#1_DBL#1").get.steps
    assert(steps.map(_.functionInfo.name) ==
      Seq("resample", "linear_interpolation", "scale_values"))
  }

  test("zip byte budget meters actual streamed bytes, not declared sizes") {
    val ds = fixture()
    val file = "/tmp/graft_test_budget.zip"
    SignalIO.saveZip(ds, file)
    // declared CSV payload (what the fast-fail pre-check sums)
    val zf = new java.util.zip.ZipFile(file)
    val csvDeclared = {
      import scala.jdk.CollectionConverters._
      zf.entries().asScala.filter(_.getName.endsWith(".csv"))
        .map(e => math.max(e.getSize, 0L)).sum
    }
    zf.close()
    assert(csvDeclared > 0)
    // a budget the CSV pre-check passes but the total stream (metadata
    // included) exceeds: the streaming ByteBudget must abort mid-read
    // where the old declared-size-only guard would have slurped on
    val ex = intercept[IllegalArgumentException] {
      SignalIO.loadZip(spark, file, maxBytes = csvDeclared + 8)
    }
    assert(ex.getMessage.contains("exceeds"), ex.getMessage)
    // generous budget loads fine
    assert(SignalIO.loadZip(spark, file, maxBytes = 1L << 20).data.count() > 0)
  }

  test("every graft.ScaleSmoke command in README.md and BASELINE.md names a tier of the harness") {
    // no session needed: the docs are read as text, the tier table is data
    val cited = Seq("README.md", "BASELINE.md").flatMap { f =>
      val text = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)), "UTF-8")
      """graft\.ScaleSmoke\s+(\w+)""".r.findAllMatchIn(text)
        .map(m => f -> m.group(1)).toSeq
    }
    assert(cited.nonEmpty, "no graft.ScaleSmoke command found in the docs")
    val unknown = cited.filterNot { case (_, tier) => ScaleSmoke.tiers.contains(tier) }
    assert(unknown.isEmpty, s"docs name tiers the harness does not have: $unknown")
  }
}
