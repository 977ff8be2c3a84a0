package graft

import graft.core.{MeteauDataset, MeteauSignal, Observations}
import graft.model._
import graft.ops._
import org.apache.spark.sql.functions._

/** Engine-executor contract: versioned registration, lineage merge+dedup,
  * dependency graph, dataset-level process (ports of
  * tests/test_metEAUdata.py:238-353 semantics). */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  private def fixtureSignal(name: String = "A", units: String = "mg/l"): MeteauSignal = {
    val rows = (0 until 100).map { i =>
      (java.sql.Timestamp.from(java.time.Instant.parse("2020-01-01T00:00:00Z")
        .plusSeconds(i * 360L)), math.sin(i * 0.7) * 10)
    }
    val df = rows.toDF(Observations.TsCol, Observations.ValueCol)
    MeteauSignal.ingest(df, name, units,
      DataProvenance(parameter = Some("COD"), metadataId = Some("1")))
  }

  test("dataset plotFrame stacks one subplot row per signal, trace modes per last step") {
    val a = fixtureSignal("A")
      .process(Seq("A#1_RAW#1"), Resample, Parameters.of("frequency" -> "30min"))
      .process(Seq("A#1_RESAMPLED#1"), PredictPrevious,
        Parameters.of("frequency" -> "30min"))
    val b = fixtureSignal("B")
    val ds = MeteauDataset.of("pf", Seq(a, b))
    val frame = ds.plotFrame(
      Seq("A#1_RAW#1", "A#1_PREV-PRED#1", "B#1_RAW#1"), 1800L)
    val rows = frame.select("series_key", "subplot_row", "mode").distinct()
      .as[(String, Int, String)].collect().toSet
    assert(rows == Set(
      ("A#1_RAW#1", 1, "lines"),
      ("A#1_PREV-PRED#1", 1, "lines+markers"),
      ("B#1_RAW#1", 2, "lines")))
    // every requested series contributes its rows
    assert(frame.where(col("series_key") === "B#1_RAW#1").count() == 100)
    // a reference-style import keeps its prediction shift in metadata
    // only: displayed at index + freq · Σ step_distance (one 30 min step)
    def firstTs(materializedShift: Boolean) =
      ds.plotFrame(Seq("A#1_PREV-PRED#1"), 1800L, materializedShift)
        .agg(min(col(Observations.TsCol))).head().getTimestamp(0).getTime
    assert(firstTs(false) - firstTs(true) == 1800L * 1000L)
    // unknown keys are rejected like the signal-level operator
    intercept[NoSuchElementException] { ds.plotFrame(Seq("Z#1_RAW#1"), 60L) }
  }

  test("ingest normalizes names to SIG#1_RAW#1") {
    val sig = fixtureSignal()
    assert(sig.meta.name == "A#1")
    assert(sig.seriesKeys == Seq("A#1_RAW#1"))
    assert(sig.series("A#1_RAW#1").count() == 100)
  }

  test("process registers versioned outputs and accumulates lineage") {
    val sig = fixtureSignal()
      .process(Seq("A#1_RAW#1"), Resample, Parameters.of("frequency" -> "5min"))
      .process(Seq("A#1_RESAMPLED#1"), Interpolate)
    assert(sig.seriesKeys == Seq("A#1_RAW#1", "A#1_RESAMPLED#1", "A#1_LIN-INT#1"))
    val linint = sig.meta.seriesMeta("A#1_LIN-INT#1").get
    assert(linint.steps.map(_.functionInfo.name) == Seq("resample", "linear_interpolation"))
    assert(linint.steps.last.inputSeriesNames == Seq("A#1_RESAMPLED#1"))
    // every step's inputs resolve to existing series (lineage closure)
    val known = sig.seriesKeys.toSet
    sig.meta.series.flatMap(_.steps).flatMap(_.inputSeriesNames)
      .foreach(n => assert(known.contains(n), s"dangling input $n"))
  }

  test("re-running a step auto-increments the version instead of overwriting") {
    val once = fixtureSignal()
      .process(Seq("A#1_RAW#1"), Resample, Parameters.of("frequency" -> "5min"))
    val twice = once
      .process(Seq("A#1_RAW#1"), Resample, Parameters.of("frequency" -> "10min"))
    assert(twice.seriesKeys == Seq("A#1_RAW#1", "A#1_RESAMPLED#1", "A#1_RESAMPLED#2"))
  }

  test("process validates input names") {
    intercept[IllegalArgumentException] {
      fixtureSignal().process(Seq("A#1_NOPE#1"), Interpolate)
    }
  }

  test("lineage steps are deduped order-preserving") {
    val steps = Seq(
      Resample.step(Parameters.of("frequency" -> "5min"), Seq("A#1_RAW#1"), 0L),
      Resample.step(Parameters.of("frequency" -> "5min"), Seq("A#1_RAW#1"), 0L),
      Interpolate.step(Parameters.empty, Seq("A#1_RESAMPLED#1"), 0L))
    assert(ProcessingStep.dedup(steps).map(_.functionInfo.name)
      == Seq("resample", "linear_interpolation"))
  }

  test("dependency graph walks lineage back to RAW") {
    val sig = fixtureSignal()
      .process(Seq("A#1_RAW#1"), Resample, Parameters.of("frequency" -> "5min"))
      .process(Seq("A#1_RESAMPLED#1"), ReplaceRanges,
        Parameters.of("ranges" -> "2020-01-01 03:00:00/2020-01-02 00:00:00"))
      .process(Seq("A#1_REPLACED-RANGES#1"), Interpolate)
    val edges = sig.dependencyEdges("A#1_LIN-INT#1")
    assert(edges.map(e => (e.origin, e.destination)) == Seq(
      ("A#1_REPLACED-RANGES#1", "A#1_LIN-INT#1"),
      ("A#1_RESAMPLED#1", "A#1_REPLACED-RANGES#1"),
      ("A#1_RAW#1", "A#1_RESAMPLED#1")))
  }

  test("rename re-keys every series and the data") {
    val sig = fixtureSignal()
      .process(Seq("A#1_RAW#1"), Resample, Parameters.of("frequency" -> "5min"))
      .rename("D")
    assert(sig.meta.name == "D#1")
    assert(sig.seriesKeys == Seq("D#1_RAW#1", "D#1_RESAMPLED#1"))
    assert(sig.data.select(Observations.KeyCol).distinct()
      .as[String].collect().toSet == Set("D#1_RAW#1", "D#1_RESAMPLED#1"))
  }

  test("dataset process: average across signals, units enforced, lineage merged") {
    val a = fixtureSignal("A", "mg/l")
    val b = fixtureSignal("B", "mg/l")
    val c = fixtureSignal("C", "uS/cm")
    val ds = MeteauDataset.of("fix", Seq(a, b, c))
    val out = ds.process(Seq("A#1_RAW#1", "B#1_RAW#1"), AverageSignals)
    assert(out.meta.signalNames.contains("AVERAGE#1"))
    val avg = out.signal("AVERAGE#1")
    assert(avg.seriesKeys == Seq("AVERAGE#1_RAW#1"))
    assert(avg.meta.units == "mg/l")
    assert(avg.meta.provenance.parameter == Some("COD"))
    val steps = avg.meta.seriesMeta("AVERAGE#1_RAW#1").get.steps
    assert(steps.last.functionInfo.name == "average_signals")
    assert(steps.last.inputSeriesNames == Seq("A#1_RAW#1", "B#1_RAW#1"))
    // units mismatch raises (average.py:42-46 contract)
    intercept[IllegalArgumentException] {
      out.process(Seq("A#1_RAW#1", "C#1_RAW#1"), AverageSignals)
    }
    // values: average of identical ingests == the series itself
    val aa = MeteauDataset.of("fix2", Seq(fixtureSignal("A"), fixtureSignal("B")))
      .process(Seq("A#1_RAW#1", "B#1_RAW#1"), AverageSignals)
    val avgVals = aa.signal("AVERAGE#1").series("AVERAGE#1_RAW#1")
      .orderBy(Observations.TsCol).select(Observations.ValueCol)
      .as[Double].collect()
    val aVals = aa.signal("A#1").series("A#1_RAW#1")
      .orderBy(Observations.TsCol).select(Observations.ValueCol)
      .as[Double].collect()
    assert(avgVals.length == aVals.length)
    // detMean's decimal(27,8) cast rounds at the 8th decimal by design
    avgVals.zip(aVals).foreach { case (x, y) => assert(math.abs(x - y) < 1e-7) }
  }

  test("Signal.addSeries registers an external series auto-versioned") {
    val sig = fixtureSignal("A")
    val extra = (0 until 5).map { i =>
      (java.sql.Timestamp.from(java.time.Instant.parse("2021-01-01T00:00:00Z")
        .plusSeconds(i * 60L)), i * 1.0)
    }.toDF(Observations.TsCol, Observations.ValueCol)
    val s2 = sig.addSeries(extra) // RAW -> RAW#2 (RAW#1 exists)
    assert(s2.seriesKeys == Seq("A#1_RAW#1", "A#1_RAW#2"))
    assert(s2.series("A#1_RAW#2").count() == 5)
    assert(s2.series("A#1_RAW#1").count() == 100) // original untouched
    val s3 = s2.addSeries(extra, seriesName = "CAL")
    assert(s3.seriesKeys.last == "A#1_CAL#1")
    // a string-valued external series records its dtype and coexists
    val states = Seq((new java.sql.Timestamp(0L), "on"))
      .toDF(Observations.TsCol, Observations.ValueCol)
    val s4 = s3.addSeries(states, seriesName = "STATE")
    assert(s4.meta.seriesMeta("A#1_STATE#1").get.valuesDtype == "string")
    assert(s4.series("A#1_STATE#1").select(Observations.ValueCol)
      .as[String].head() == "on")
  }

  test("Dataset.add registers a signal renumbered dataset-wide") {
    val ds = MeteauDataset.of("d", Seq(fixtureSignal("A")))
    val added = ds.add(fixtureSignal("B")).add(fixtureSignal("A"))
    assert(added.meta.signalNames == Seq("A#1", "B#1", "A#2"))
    assert(added.signal("A#2").seriesKeys == Seq("A#2_RAW#1"))
    assert(added.signal("A#2").series("A#2_RAW#1").count() == 100)
    assert(added.data.count() == 300)
  }

  test("dataset renumbers same-base signals on assembly") {
    val ds = MeteauDataset.of("fix", Seq(fixtureSignal("A"), fixtureSignal("A")))
    assert(ds.meta.signalNames == Seq("A#1", "A#2"))
  }

  test("addSeries with the default timestamp never rewinds lastUpdated") {
    val sig = fixtureSignal("A")
      .process(Seq("A#1_RAW#1"), Resample,
        Parameters.of("frequency" -> "30min"), runAt = 1700000000L)
    assert(sig.meta.lastUpdated == 1700000000L)
    val extra = Seq((new java.sql.Timestamp(0L), 1.0))
      .toDF(Observations.TsCol, Observations.ValueCol)
    val s2 = sig.addSeries(extra) // default createdOn = 0L
    assert(s2.meta.lastUpdated == 1700000000L,
      "epoch-default registration rewound lastUpdated")
    val s3 = s2.addSeries(extra, createdOn = 1800000000L)
    assert(s3.meta.lastUpdated == 1800000000L)
  }

  test("Dataset.process re-imposes catalog dtypes on a mixed-dtype carrier") {
    def ts(i: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2020-01-01T00:00:00Z").plusSeconds(i * 60L))
    val n1 = MeteauSignal.ingest(
      Seq((ts(0), 1.0), (ts(1), 3.0)).toDF(Observations.TsCol, Observations.ValueCol),
      "N1", "mg/l")
    val n2 = MeteauSignal.ingest(
      Seq((ts(0), 5.0), (ts(1), 7.0)).toDF(Observations.TsCol, Observations.ValueCol),
      "N2", "mg/l")
    val st = MeteauSignal.ingest(
      Seq((ts(0), "on"), (ts(1), "off")).toDF(Observations.TsCol, Observations.ValueCol),
      "ST", "state")
    // the three-signal union carries values as lossless strings
    val ds = MeteauDataset.of("mix", Seq(n1, n2, st))
    assert(ds.data.schema(Observations.ValueCol).dataType.typeName == "string")
    // numeric dataset transforms must still see typed doubles, not strings
    val out = ds.process(Seq("N1#1_RAW#1", "N2#1_RAW#1"), AverageSignals)
    val avg = out.signal("AVERAGE#1").series("AVERAGE#1_RAW#1")
      .orderBy(Observations.TsCol)
      .select(Observations.ValueCol).as[Double].collect().toSeq
    assert(avg == Seq(3.0, 5.0), s"expected typed means, got $avg")
  }

  test("Dataset.process widens mixed numeric inputs (long + double) like concat") {
    def ts(i: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2020-01-01T00:00:00Z").plusSeconds(i * 60L))
    val d = MeteauSignal.ingest(
      Seq((ts(0), 1.5), (ts(1), 2.5)).toDF(Observations.TsCol, Observations.ValueCol),
      "D", "mg/l")
    val l = MeteauSignal.ingest(
      Seq((ts(0), 2L), (ts(1), 4L)).toDF(Observations.TsCol, Observations.ValueCol),
      "L", "mg/l")
    val out = MeteauDataset.of("numix", Seq(d, l))
      .process(Seq("D#1_RAW#1", "L#1_RAW#1"), SumSignals)
    val sums = out.signal("SUM#1").series("SUM#1_RAW#1")
      .orderBy(Observations.TsCol)
      .select(Observations.ValueCol).as[Double].collect().toSeq
    assert(sums == Seq(3.5, 6.5), s"expected widened sums, got $sums")
  }

  /** Every key's series(k) against the filter over the signal's union with
    * the catalog dtype re-imposed: the path a key without its own frame
    * takes. Rows compare as strings, so a string-carried union compares. */
  private def assertFramesMatchUnion(sig: MeteauSignal): Unit = {
    import Observations._
    assert(sig.frames.keySet == sig.seriesKeys.toSet, sig.meta.name)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col(KeyCol), col(TsCol), col(ValueCol).cast("string"))
        .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val viaUnion = sig.copy(frames = Map.empty)
    sig.seriesKeys.foreach { k =>
      val (own, filtered) = (sig.series(k), viaUnion.series(k))
      assert(own.schema(ValueCol).dataType == filtered.schema(ValueCol).dataType, k)
      val got = rows(own)
      assert(got.nonEmpty, k)
      assert(got == rows(filtered), k)
      assert(got == rows(sig.data.filter(col(KeyCol) === k)), k)
    }
  }

  test("series(k) reads each series' own frame: the union filter's rows after every executor") {
    def ts(i: Int) = java.sql.Timestamp.from(
      java.time.Instant.parse("2020-01-01T00:00:00Z").plusSeconds(i * 60L))
    val states = Seq((ts(0), "on"), (ts(3), "off"))
      .toDF(Observations.TsCol, Observations.ValueCol)
    val processed = fixtureSignal("A")
      .process(Seq("A#1_RAW#1"), ScaleValues, Parameters.of("factor" -> "3"))
    assertFramesMatchUnion(processed)
    // a string series turns the union into a lossless-string carrier; the
    // next step's input is the double frame, not the string union
    val mixed = processed.addSeries(states, seriesName = "STATE")
    assert(mixed.data.schema(Observations.ValueCol).dataType.typeName == "string")
    assertFramesMatchUnion(mixed)
    val afterMixed = mixed.process(Seq("A#1_DBL#1"), ScaleValues)
    assertFramesMatchUnion(afterMixed)
    val renamed = afterMixed.rename("R")
    assert(renamed.frames.keySet == Set("R#1_RAW#1", "R#1_DBL#1", "R#1_STATE#1", "R#1_DBL#2"))
    assertFramesMatchUnion(renamed)
    // MeteauDataset.of/add rename clashing signals; each keeps its frames
    val ds = MeteauDataset.of("d", Seq(fixtureSignal("B"), fixtureSignal("B")))
      .add(renamed).add(processed)
    assert(ds.meta.signalNames == Seq("B#1", "B#2", "R#1", "A#1"))
    ds.signals.foreach(assertFramesMatchUnion)
    val out = ds.process(Seq("A#1_DBL#1", "R#1_DBL#2", "B#2_RAW#1"), AverageSignals)
    out.signals.foreach(assertFramesMatchUnion)
    // the dataset union holds the same rows as its signals' own frames
    val viaFrames = out.signals.flatMap(s => s.seriesKeys.map(s.series))
      .map(_.select(col(Observations.KeyCol), col(Observations.TsCol),
        col(Observations.ValueCol).cast("string")))
      .reduce(_ unionByName _)
    assert(viaFrames.exceptAll(out.data).isEmpty && out.data.exceptAll(viaFrames).isEmpty)
  }

  test("a 12-step chain's analyzed plan grows linearly per step, not by doubling") {
    val rows = (0 until 1000).map { i =>
      (java.sql.Timestamp.from(java.time.Instant.parse("2020-01-01T00:00:00Z")
        .plusSeconds(i * 60L)), i * 0.5)
    }.toDF(Observations.TsCol, Observations.ValueCol)
    val chain = (1 to 12).foldLeft(MeteauSignal.ingest(rows, "C", "mg/l")) {
      (sig, _) => sig.process(Seq(sig.seriesKeys.last), ScaleValues)
    }
    assert(chain.seriesKeys.size == 13)
    // 30,716 nodes when each step filtered the whole union
    val nodes = chain.data.queryExecution.analyzed.collect { case p => p }.size
    assert(nodes <= 400, s"analyzed plan has $nodes nodes")
    assert(chain.series("C#1_DBL#12").count() == 1000)
  }
}
