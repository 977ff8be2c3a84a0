package graft.core

import graft.model._
import graft.ops.{DatasetTransform, SeriesTransform}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, NumericType}

/** The two engine executors, mirroring `Signal.process`
  * (/root/reference/src/meteaudata/types.py:678-740) and `Dataset.process`
  * (types.py:1366-1429), re-expressed immutably: every call returns a new
  * wrapper; the observations DataFrame is lazily composed (Catalyst fuses
  * the whole chain into one physical plan at action time) while lineage and
  * naming bookkeeping stay eager and driver-side, like the reference.
  *
  * `data` is the signal's tall union of every series; `frames` holds each
  * series' own frame (`key -> rows`) as the executor built it. A step reads
  * its input from that frame, not from a filter over the union, so a chain
  * of k steps holds each earlier step's plan once and the analyzed plan
  * grows O(k²); a filter over the union would hold step k−1's plan twice
  * and double it per step. The optimized plan is the same either way, since
  * Catalyst prunes the union branches the key filter rejects. A key with no
  * frame (signals rebuilt by `SignalIO.load`, or built by hand) falls back
  * to the filter over `data`.
  *
  * A deliberate divergence from the reference's in-place mutation
  * (types.py:722,1407): immutability is the Spark idiom and gives the
  * deep-copy isolation of types.py:1397-1399 for free (SURVEY.md §3.4).
  */
final case class MeteauSignal(data: DataFrame, meta: SignalMeta,
    frames: Map[String, DataFrame] = Map.empty) {
  import Observations._

  def seriesKeys: Seq[String] = meta.seriesKeys

  /** Rows of one series, with the series' CATALOG dtype re-imposed on the
    * value column (types.py:338-349: the reference re-applies each stored
    * dtype on access after a lossy sink). The tall frame holds one runtime
    * value type; a mixed-dtype dataset is carried as lossless strings
    * (see SignalIO.catalogDtype), so the per-series cast here is what
    * restores each signal's true type — without it, mixed datasets would
    * silently lose their non-majority-typed values. No-op (same type)
    * for single-dtype datasets, so plans are unchanged there. */
  def series(key: String): DataFrame = {
    val df = frames.getOrElse(key, data.filter(col(KeyCol) === key))
    meta.seriesMeta(key).map(_.valuesDtype).filter(_.nonEmpty) match {
      case Some(dt) if dt != df.schema(ValueCol).dataType.simpleString =>
        // the cast rides inside a CASE on the same predicate as the filter:
        // branches evaluate lazily, so ANSI cast errors can't fire on other
        // series' rows if the optimizer folds the projection before the
        // filter (ConvertToLocalRelation does, on driver-built frames)
        df.withColumn(ValueCol,
          when(col(KeyCol) === key, col(ValueCol).cast(dt)))
      case _ => df
    }
  }

  /** Univariate executor. For each input series: run the transform, merge
    * lineage (all input steps + the new step, order-preserving dedup),
    * auto-version the output name, and union the new rows in.
    * Ref trace: types.py:678-740 (validate :697-703, bind :704-706,
    * lineage merge+dedup :708-719, register :720-722). */
  def process(inputNames: Seq[String], t: SeriesTransform,
      params: Parameters = Parameters.empty,
      runAt: Long = 0L): MeteauSignal = {
    val known = meta.seriesKeys.toSet
    val missing = inputNames.filterNot(known)
    require(missing.isEmpty,
      s"input series ${missing.mkString(", ")} not in signal '${meta.name}' " +
        s"(has: ${meta.seriesKeys.mkString(", ")})")

    var cur = this
    inputNames.foreach { input =>
      val (signalPart, _) = Naming.splitKey(input)
      val unversioned = Naming.newSeriesName(signalPart, t.suffix)
      val (_, seriesPart) = Naming.splitKey(unversioned)
      val versionedSeries = Naming.nextVersioned(
        cur.meta.seriesKeys.map(k => Naming.splitKey(k)._2), seriesPart)
      val outKey = s"${Naming.splitKey(unversioned)._1}_$versionedSeries"

      val inputSteps = cur.meta.seriesMeta(input).map(_.steps).getOrElse(Nil)
      val newStep = t.step(params, Seq(input), runAt)
      val lineage = ProcessingStep.dedup(inputSteps :+ newStep)

      val outRows = t.transform(cur.series(input), params)
        .select(lit(outKey).as(KeyCol), col(TsCol), col(ValueCol))
      val inputMeta = cur.meta.seriesMeta(input).getOrElse(SeriesMeta(input))
      val sm = inputMeta.copy(seriesKey = outKey, steps = lineage,
        index = t.updatedIndex(inputMeta.index, params),
        valuesDtype = t.updatedDtype(inputMeta.valuesDtype),
        createdOn = runAt)
      cur = MeteauSignal(
        Observations.union(cur.data, outRows),
        cur.meta.copy(series = cur.meta.series :+ sm, lastUpdated = runAt),
        cur.frames + (outKey -> outRows))
    }
    cur
  }

  /** Register an externally-built series under this signal, auto-versioned
    * to the next free name — `Signal.add` (types.py:622-628: rename via
    * `new_ts_name`, register in the ordered dict), immutably. `rows` is a
    * (ts, value) frame; the value dtype is recorded from the frame like
    * [[MeteauSignal.ingest]]. */
  def addSeries(rows: DataFrame, seriesName: String = "RAW",
      index: IndexMeta = IndexMeta(IndexKind.DatetimeIndex),
      createdOn: Long = 0L): MeteauSignal = {
    val seriesPart = Naming.ensureNumbered(seriesName)
    val versioned = Naming.nextVersioned(
      meta.seriesKeys.map(k => Naming.splitKey(k)._2), seriesPart)
    val key = s"${meta.name}_$versioned"
    val dtype = rows.schema(ValueCol).dataType.simpleString
    val newRows = rows.select(lit(key).as(KeyCol), col(TsCol), col(ValueCol))
    MeteauSignal(
      Observations.union(data, newRows),
      meta.copy(series = meta.series :+
        SeriesMeta(key, Nil, index, dtype, createdOn),
        // never rewind: registering with the default epoch timestamp must
        // not pull an existing signal's lastUpdated back to 0
        lastUpdated = math.max(meta.lastUpdated, createdOn)),
      frames + (key -> newRows))
  }

  /** Versioned rename of the whole signal (re-keys every series).
    * Ref: types.py:753-764 (`Signal.rename`). */
  def rename(newName: String): MeteauSignal = {
    val newPart = Naming.ensureNumbered(newName)
    def newKey(key: String) = s"${newPart}_${Naming.splitKey(key)._2}"
    val renamed = meta.series.map(sm => sm.copy(seriesKey = newKey(sm.seriesKey)))
    val newData = data.withColumn(KeyCol,
      concat(lit(newPart + "_"), element_at(split(col(KeyCol), "_", 2), 2)))
    MeteauSignal(newData, meta.copy(name = newPart, series = renamed),
      frames.map { case (k, df) => newKey(k) -> df.withColumn(KeyCol, lit(newKey(k))) })
  }

  /** Plot-data operator (the engine side of the reference's plotting,
    * types.py:379-464 — visualization itself is out of scope, SURVEY.md
    * §2.2 E11): one tall frame of the requested series with the
    * display-time x-shift and trace mode attached.
    *
    * x-shift: the reference displays prediction series at
    * `index + freq·Σ step_distance` (types.py:435-448). Our
    * PredictPrevious materializes its own shift in the data
    * (SURVEY.md §7.4 item 7), so the shift applied here counts only the
    * NON-materialized step distances — for engine-produced series that sum
    * is zero and the frame is faithful; series imported with
    * reference-style metadata-only shifts get shifted here.
    * mode: by the last step's ProcessingType (prediction → lines+markers,
    * fault detection → markers, raw/other → lines; types.py:419-434). */
  def plotFrame(keys: Seq[String], freqSeconds: Long,
      materializedShift: Boolean = true): DataFrame = {
    keys.map { k =>
      val sm = meta.seriesMeta(k).getOrElse(
        throw new NoSuchElementException(s"no series '$k'"))
      val dist = if (materializedShift) 0
        else sm.steps.map(_.stepDistance).sum
      val mode = sm.steps.lastOption.map(_.stepType) match {
        case Some(ProcessingType.Prediction) => "lines+markers"
        case Some(ProcessingType.FaultDetection) => "markers"
        case _ => "lines"
      }
      series(k).select(
        col(KeyCol),
        (col(TsCol) + expr(s"interval ${dist * freqSeconds} seconds")).as(TsCol),
        col(ValueCol),
        lit(mode).as("mode"))
    }.reduce(Observations.union)
  }

  /** Retrospective dependency-graph walk: last step of a series → its
    * `inputSeriesNames` → recurse. Ref: types.py:928-949
    * (`build_dependency_graph`). Driver-side (metadata is O(#series)). */
  def dependencyEdges(tsName: String): Seq[DependencyEdge] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[DependencyEdge]
    def walk(name: String): Unit =
      meta.seriesMeta(name).foreach { sm =>
        sm.steps.lastOption.foreach { st =>
          st.inputSeriesNames.foreach { origin =>
            val e = DependencyEdge(st.functionInfo.name, st.stepType.value,
              origin, name)
            if (seen.add(e)) walk(origin)
          }
        }
      }
    walk(tsName)
    seen.toSeq
  }

  /** Deterministic dependency-graph layout — the geometry the reference's
    * `plot_dependency_graph` draws (types.py:951-1054), as data: node
    * boxes (with the reference's 0.1 drawing pad) and edge lines between
    * box edges, labels at the midpoints. The reference orders nodes by
    * `created_on`, which on engine-produced lineage IS topological order
    * (every step's output is created after its inputs); we order by
    * topological depth with a name tie-break, making the layout
    * reproducible without wall-clock state. Driver-side O(#series)
    * metadata, like [[dependencyEdges]]. */
  def dependencyLayout(tsName: String): Seq[LayoutShape] = {
    val edges = dependencyEdges(tsName)
    val nodes = (edges.map(_.origin) ++ edges.map(_.destination)).distinct
    val incoming = edges.groupBy(_.destination)
    val memo = scala.collection.mutable.Map.empty[String, Int]
    def depth(n: String): Int = memo.getOrElseUpdate(n,
      incoming.get(n).map(_.map(e => depth(e.origin)).max + 1).getOrElse(0))
    val ordered = nodes.sortBy(n => (depth(n), n))
    val nn = ordered.size
    val idx = ordered.zipWithIndex.toMap
    val nodeRows = ordered.zipWithIndex.map { case (name, i) =>
      LayoutShape("node", name,
        i + 0.1, i.toDouble / nn + 0.1,
        (i + 1) - 0.1, (i + 1).toDouble / nn - 0.1,
        i + 0.5, (i + 0.5) / nn)
    }
    val edgeRows = edges.map { e =>
      val oi = idx(e.origin); val di = idx(e.destination)
      val oxm = oi + 0.5; val oym = (oi + 0.5) / nn
      val dxm = di + 0.5; val dym = (di + 0.5) / nn
      LayoutShape("edge", e.step,
        (oi + 1) - 0.1, oym, di + 0.1, dym,
        (oxm + dxm) / 2, (oym + dym) / 2)
    }
    nodeRows ++ edgeRows
  }
}

object MeteauSignal {
  import Observations._

  /** Build a signal from a tall frame, normalizing every key to
    * `SIG#N_SERIES#M` (default series name RAW — the reference's ingest
    * normalization, types.py:547-606). */
  def ingest(df: DataFrame, name: String, units: String,
      provenance: DataProvenance = DataProvenance(),
      seriesName: String = "RAW",
      index: IndexMeta = IndexMeta(IndexKind.DatetimeIndex),
      createdOn: Long = 0L): MeteauSignal = {
    val signalPart = Naming.ensureNumbered(name)
    val seriesPart = Naming.ensureNumbered(seriesName)
    val key = s"${signalPart}_$seriesPart"
    val data = df.select(lit(key).as(KeyCol), col(TsCol), col(ValueCol))
    // values_dtype inferred from the actual frame (the reference stores the
    // pandas dtype and re-imposes it on load, types.py:264-290, :338-349);
    // non-double series keep their runtime type on the data path
    val dtype = df.schema(ValueCol).dataType.simpleString
    MeteauSignal(data,
      SignalMeta(signalPart, units, provenance, createdOn, createdOn,
        Vector(SeriesMeta(key, Nil, index, dtype, createdOn))),
      Map(key -> data))
  }
}

/** Dataset-level executor. Ref: types.py:1366-1429 (`Dataset.process`). */
final case class MeteauDataset(data: DataFrame, meta: DatasetMeta,
    signals: Vector[MeteauSignal]) {
  import Observations._

  def signal(name: String): MeteauSignal =
    signals.find(_.meta.name == name).getOrElse(
      throw new NoSuchElementException(s"no signal '$name'"))

  def allSeriesKeys: Seq[String] = signals.flatMap(_.meta.seriesKeys)

  /** Register another signal in this dataset, renumbered dataset-wide —
    * `Dataset.add` (types.py:1262-1270), immutably. */
  def add(sig: MeteauSignal): MeteauDataset = {
    val v = Naming.nextVersioned(meta.signalNames,
      Naming.ensureNumbered(sig.meta.name))
    val s2 = if (v == sig.meta.name) sig else sig.rename(v)
    MeteauDataset(
      Observations.union(data, s2.data),
      meta.copy(signals = meta.signals :+ s2.meta),
      signals :+ s2)
  }

  /** Multivariate executor: validate fully-qualified input names across all
    * signals, run the transform over their unioned rows, version the new
    * signal's name dataset-wide, and merge every input's lineage into the
    * output series. Ref trace: types.py:1385-1428. Units agreement check:
    * average.py:42-46. */
  def process(inputNames: Seq[String], t: DatasetTransform,
      params: Parameters = Parameters.empty,
      runAt: Long = 0L,
      requireSameUnits: Boolean = true): MeteauDataset = {
    val known = allSeriesKeys.toSet
    val missing = inputNames.filterNot(known)
    require(missing.isEmpty,
      s"input series ${missing.mkString(", ")} not in dataset '${meta.name}'")

    val owners = inputNames.map { k =>
      signals.find(_.meta.seriesKeys.contains(k)).get
    }
    if (requireSameUnits) {
      val units = owners.map(_.meta.units).distinct
      require(units.size <= 1,
        s"input series must share units, got: ${units.mkString(", ")}")
    }

    // Inputs flow through each owner's series(k): its own frame, with the
    // series' CATALOG dtype re-imposed (types.py:338-349) — a mixed-dtype
    // dataset is carried as lossless strings, so the raw carrier rows
    // would feed string values to numeric transforms (lexicographic max
    // in Pca.aligned, ANSI string→number casts downstream). Where some
    // input's catalog dtype differs from the carrier's, non-double numeric
    // inputs widen to double like a pandas concat would (float64
    // coercion); single-dtype inputs pass through uncast.
    val carrierDt = data.schema(ValueCol).dataType.simpleString
    val needsCast = owners.zip(inputNames).exists { case (sig, k) =>
      sig.meta.seriesMeta(k).map(_.valuesDtype).filter(_.nonEmpty)
        .exists(_ != carrierDt)
    }
    val inputRows = owners.zip(inputNames).map { case (sig, k) =>
      val df = sig.series(k)
      df.schema(ValueCol).dataType match {
        case dt: NumericType if needsCast && dt != DoubleType =>
          df.withColumn(ValueCol, col(ValueCol).cast(DoubleType))
        case _ => df
      }
    }.reduce(Observations.union)
    val versioned = Naming.nextVersioned(meta.signalNames, t.signalBaseName)
    val outKey = s"${versioned}_${Naming.ensureNumbered(t.suffix)}"

    val newStep = t.step(params, inputNames, runAt)
    val inputSteps = owners.zip(inputNames).flatMap { case (sig, k) =>
      sig.meta.seriesMeta(k).map(_.steps).getOrElse(Nil)
    }
    val lineage = ProcessingStep.dedup(inputSteps :+ newStep)

    val outRows = t.transform(inputRows, params)
      .select(lit(outKey).as(KeyCol), col(TsCol), col(ValueCol))

    // Provenance inherited from the first input (average.py:73-82).
    val prov = owners.headOption.map(_.meta.provenance).getOrElse(DataProvenance())
    val units = owners.headOption.map(_.meta.units).getOrElse("")
    val newSignal = MeteauSignal(outRows,
      SignalMeta(versioned, units, prov, runAt, runAt,
        Vector(SeriesMeta(outKey, lineage,
          IndexMeta(IndexKind.DatetimeIndex), "double", runAt))),
      Map(outKey -> outRows))

    MeteauDataset(
      Observations.union(data, outRows),
      meta.copy(signals = meta.signals :+ newSignal.meta, lastUpdated = runAt),
      signals :+ newSignal)
  }

  /** Dataset-level plot frame — the data side of the reference's stacked
    * per-signal subplots (`Dataset.plot`, types.py:1431-1473): every
    * requested series' trace (ts/value/mode, with the display-time shift
    * rules of [[MeteauSignal.plotFrame]]) plus `subplot_row`, the 1-based
    * row of its owning signal in first-appearance order — exactly the
    * frame a subplot renderer consumes. */
  def plotFrame(keys: Seq[String], freqSeconds: Long,
      materializedShift: Boolean = true): DataFrame = {
    val owner: Map[String, MeteauSignal] = keys.map { k =>
      k -> signals.find(_.meta.seriesKeys.contains(k)).getOrElse(
        throw new NoSuchElementException(s"no series '$k' in dataset '${meta.name}'"))
    }.toMap
    val rowOf: Map[String, Int] = keys.map(owner(_).meta.name).distinct
      .zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap
    keys.map { k =>
      val sig = owner(k)
      sig.plotFrame(Seq(k), freqSeconds, materializedShift)
        .withColumn("subplot_row", lit(rowOf(sig.meta.name)))
    }.reduce(Observations.union)
  }

  def dependencyEdges(fqName: String): Seq[DependencyEdge] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[DependencyEdge]
    def lookup(name: String): Option[SeriesMeta] =
      signals.iterator.flatMap(_.meta.seriesMeta(name)).nextOption()
    def walk(name: String): Unit =
      lookup(name).foreach { sm =>
        sm.steps.lastOption.foreach { st =>
          st.inputSeriesNames.foreach { origin =>
            val e = DependencyEdge(st.functionInfo.name, st.stepType.value,
              origin, name)
            if (seen.add(e)) walk(origin)
          }
        }
      }
    walk(fqName)
    seen.toSeq
  }
}

object DataEquality {
  import Observations._

  /** Deep value equality for observation frames — the engine's rendering
    * of the reference's `__eq__` (types.py:302-318: dtype match +
    * `np.allclose(..., equal_nan=True)` + metadata). Rows align on
    * (series_key, ts); values compare within `tol` with null==null.
    * Implemented as an anti-join count (distributed; no collect). */
  def sameData(a: DataFrame, b: DataFrame, tol: Double = 1e-9): Boolean = {
    val l = a.select(col(KeyCol).as("k"), col(TsCol).as("t"), col(ValueCol).as("va"))
    val r = b.select(col(KeyCol).as("k"), col(TsCol).as("t"), col(ValueCol).as("vb"))
    if (l.count() != r.count()) return false
    val joined = l.join(r, Seq("k", "t"), "full_outer")
    val mismatch = joined.where(
      col("va").isNull =!= col("vb").isNull ||
        (col("va").isNotNull && abs(col("va") - col("vb")) > tol))
    mismatch.isEmpty
  }

  /** Full dataset equality: catalog equality (exact, case classes) plus
    * data equality within tolerance (types.py:1475-1497). */
  def sameDataset(a: MeteauDataset, b: MeteauDataset, tol: Double = 1e-9): Boolean =
    a.meta == b.meta && sameData(a.data, b.data, tol)
}

object MeteauDataset {
  /** Assemble a dataset from signals, renumbering names dataset-wide
    * (types.py:1213-1231). */
  def of(name: String, sigs: Seq[MeteauSignal],
      description: String = "", owner: String = "", purpose: String = "",
      project: String = "", createdOn: Long = 0L): MeteauDataset = {
    var names = Vector.empty[String]
    val renamed = sigs.map { s =>
      val v = Naming.nextVersioned(names, s.meta.name)
      names :+= v
      if (v == s.meta.name) s else s.rename(v)
    }.toVector
    val data = renamed.map(_.data).reduce(Observations.union)
    MeteauDataset(data,
      DatasetMeta(name, description, owner, purpose, project, createdOn,
        createdOn, renamed.map(_.meta)),
      renamed)
  }
}
