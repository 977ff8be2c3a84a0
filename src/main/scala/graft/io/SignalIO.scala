package graft.io

import graft.core.{MeteauDataset, MeteauSignal, Observations}
import graft.model._
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistence with full metadata round-trip fidelity — the Spark rendering
  * of the reference's save/load (/root/reference/src/meteaudata/
  * types.py:766-898 signal level, 1293-1364 dataset level): data partitioned
  * by series (parquet by default, CSV for reference parity), one JSON
  * metadata document per dataset carrying the whole catalog (lineage steps,
  * index metadata, dtypes, provenance) so a lossy sink can be restored with
  * index type/tz/frequency re-imposed (types.py:125-173, 338-349).
  *
  * Layout: `<root>/data/` (partitioned observations) +
  * `<root>/metadata.json`. Works on any Hadoop-compatible FS.
  */
object SignalIO {
  import Observations._
  import java.{util => ju}
  import scala.jdk.CollectionConverters._

  /** Save: observations partitioned by series_key (partition pruning makes
    * single-series reads touch one directory), catalog as one JSON doc.
    * The old catalog is deleted before the data write and the new one is
    * published last, so a save that dies in between leaves no catalog and
    * [[load]] fails instead of describing the new rows with the old one. */
  def save(ds: MeteauDataset, path: String, format: String = "parquet"): Unit = {
    val metaFile = new org.apache.hadoop.fs.Path(s"$path/metadata.json")
    metaFile.getFileSystem(ds.data.sparkSession.sparkContext.hadoopConfiguration)
      .delete(metaFile, false)
    val writer = ds.data.write.mode(SaveMode.Overwrite).partitionBy(KeyCol)
    format match {
      case "parquet" => writer.parquet(s"$path/data")
      case "csv" => writer.option("header", "true").csv(s"$path/data")
      case other => throw new IllegalArgumentException(s"format $other")
    }
    writeMetadata(ds.meta, metaFile.toString, ds.data.sparkSession)
  }

  /** Load: read data, cast value to each series' catalog dtype (CSV comes
    * back as strings — the reference's "CSV degrade then reconstruct from
    * metadata" semantics), rebuild the signal wrappers. */
  def load(spark: SparkSession, path: String, format: String = "parquet"): MeteauDataset = {
    val meta = readMetadata(s"$path/metadata.json", spark)
    val raw = format match {
      case "parquet" => spark.read.parquet(s"$path/data")
      case "csv" => spark.read.option("header", "true")
        .schema("ts STRING, value STRING, series_key STRING").csv(s"$path/data")
      case other => throw new IllegalArgumentException(s"format $other")
    }
    val data = raw.select(
      col(KeyCol).cast("string").as(KeyCol),
      col(TsCol).cast("timestamp").as(TsCol),
      col(ValueCol).cast(catalogDtype(meta)).as(ValueCol))
    val signals = meta.signals.map { sm =>
      MeteauSignal(data.filter(col(KeyCol).isin(sm.seriesKeys: _*)), sm)
    }
    MeteauDataset(data, meta, signals)
  }

  /** The dtype re-imposed on the loaded value column (types.py:338-349:
    * the reference re-applies each stored dtype after a lossy sink). The
    * tall frame holds ONE runtime value type, so the catalog dtype is
    * honored when the dataset's series agree on it (the common case — a
    * dataset of string state series loads back as strings); mixed-dtype
    * catalogs are carried as LOSSLESS STRINGS (never a numeric cast, which
    * would silently null every non-numeric value), and
    * [[graft.core.MeteauSignal.series]] re-imposes each series' own catalog
    * dtype at access time. */
  private def catalogDtype(meta: DatasetMeta): String = {
    val ds = meta.signals.flatMap(_.series).map(_.valuesDtype)
      .filter(_.nonEmpty).distinct
    if (ds.size == 1) ds.head else "string"
  }

  // ------------------------------------------------------------ zip export

  /** Reference-parity zip export: one CSV per time series under
    * `<dataset>/<signal>/` plus the metadata document, zipped — the layout
    * of the reference's `Dataset.save` (types.py:1293-1313, one CSV per
    * series types.py:766-774, zip helpers types.py:42-61).
    *
    * This is a SMALL-EXPORT path (collects to the driver, like the
    * reference's single-machine format); the distributed sink is [[save]].
    * Guarded by `maxRows`. */
  def saveZip(ds: MeteauDataset, file: String, maxRows: Long = 1000000L): Unit = {
    val n = ds.data.count()
    require(n <= maxRows,
      s"zip export is a small-export path: $n rows > $maxRows; use save()")
    val out = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(file))
    try {
      out.putNextEntry(new java.util.zip.ZipEntry(s"${ds.meta.name}/metadata.json"))
      out.write(toJson(ds.meta).getBytes("UTF-8"))
      out.closeEntry()
      ds.signals.foreach { sig =>
        sig.meta.seriesKeys.foreach { key =>
          val rows = sig.series(key)
            .orderBy(col(TsCol))
            .select(date_format(col(TsCol), "yyyy-MM-dd HH:mm:ss.SSSSSS"),
              col(ValueCol).cast("string"))
            .collect()
          val sb = new StringBuilder("ts,value\n")
          rows.foreach { r =>
            sb.append(r.getString(0)).append(',')
              .append(csvField(r.getString(1))).append('\n')
          }
          out.putNextEntry(new java.util.zip.ZipEntry(
            s"${ds.meta.name}/${sig.meta.name}/$key.csv"))
          out.write(sb.toString.getBytes("UTF-8"))
          out.closeEntry()
        }
      }
    } finally out.close()
  }

  /** Load a [[saveZip]] archive back into a dataset (driver-side parse,
    * parallelized frame). Values/timestamps are re-imposed from the
    * catalog, mirroring the reference's CSV-degrade-then-reconstruct. */
  def loadZip(spark: SparkSession, file: String,
      maxBytes: Long = 256L << 20): MeteauDataset = {
    val zf = new java.util.zip.ZipFile(file)
    try {
      import scala.jdk.CollectionConverters._
      val entries = zf.entries().asScala.toList
      guardCsvBytes(entries, maxBytes)
      val budget = new ByteBudget(maxBytes)
      val metaEntry = entries.find(_.getName.endsWith("/metadata.json"))
        .getOrElse(throw new IllegalArgumentException("no metadata.json in zip"))
      val meta = fromJson(budget.read(zf, metaEntry))
      val rows = entries.filter(_.getName.endsWith(".csv")).flatMap { e =>
        val key = e.getName.substring(e.getName.lastIndexOf('/') + 1)
          .stripSuffix(".csv")
        csvDataRecords(budget.read(zf, e))
          .map { case (ts, v) => (key, ts, v) }
      }
      import spark.implicits._
      val data = rows.toDF(KeyCol, TsCol, ValueCol)
        .select(col(KeyCol),
          to_timestamp(col(TsCol), "yyyy-MM-dd HH:mm:ss.SSSSSS").as(TsCol),
          when(col(ValueCol) === "", lit(null)).otherwise(col(ValueCol))
            .cast(catalogDtype(meta)).as(ValueCol))
      val signals = meta.signals.map { sm =>
        MeteauSignal(data.filter(col(KeyCol).isin(sm.seriesKeys: _*)), sm)
      }
      MeteauDataset(data, meta, signals)
    } finally zf.close()
  }

  // ------------------------------------------- reference-format (YAML) zip

  /** Load an archive produced by the REFERENCE implementation itself —
    * `Dataset.save` (types.py:1293-1313: `{name}_metadata.yaml` at the zip
    * root + `{name}_data/{signal}_data/{series}.csv`) or `Signal.save`
    * (types.py:792-808: `{signal}_metadata.yaml` + per-series CSVs under
    * `{signal}_data`).
    * Metadata is YAML (types.py:785-790); pydantic enum/datetime fields
    * are mapped onto the catalog model and numpy dtypes onto Spark types,
    * so a user's existing metEAUdata archives load directly. */
  def loadReferenceZip(spark: SparkSession, file: String,
      maxBytes: Long = 256L << 20): MeteauDataset = {
    val zf = new java.util.zip.ZipFile(file)
    try {
      import scala.jdk.CollectionConverters._
      val entries = zf.entries().asScala.toList
      guardCsvBytes(entries, maxBytes)
      val budget = new ByteBudget(maxBytes)
      def slurp(e: java.util.zip.ZipEntry): String = budget.read(zf, e)
      // the root metadata doc: a dataset archive has exactly one
      // *_metadata.yaml with no directory component; a signal archive's is
      // also at the root
      val metaEntry = entries
        .filter(e => e.getName.endsWith("_metadata.yaml") && !e.getName.contains("/"))
        .sortBy(_.getName).headOption
        .getOrElse(throw new IllegalArgumentException(
          s"no root *_metadata.yaml in $file — not a reference archive"))
      val root = yamlMapper.readValue(slurp(metaEntry),
        classOf[ju.Map[String, Object]])
      val meta =
        if (root.containsKey("signals")) refDatasetFromMap(root)
        else DatasetMeta(str(root, "name"),
          createdOn = refEpochMillis(root.get("created_on")),
          lastUpdated = refEpochMillis(root.get("last_updated")),
          signals = Vector(refSignalFromMap(root)))
      // data: every {series}.csv (pandas to_csv: unnamed index column +
      // the series name as the value header). Axis labels are parsed
      // DRIVER-side with the series' own IndexMeta in hand — pandas
      // writes a different label grammar per index kind (timestamps,
      // "2024-01" periods, "N days HH:MM:SS" timedeltas, quoted
      // "(0.0, 1.5]" intervals, bare category strings, integers), and
      // interval/categorical labels only make sense with the metadata.
      val indexByKey: Map[String, IndexMeta] =
        meta.signals.flatMap(_.series).map(sm => sm.seriesKey -> sm.index).toMap
      // interval-kind series: keep the original pandas "(a, b]" labels (in
      // axis order) so saveReferenceZip can emit them back verbatim — the
      // axis point itself only carries the left bound (r3 exported
      // degraded numeric labels; see axisLabels)
      val intervalLabels =
        scala.collection.mutable.Map.empty[String, Vector[String]]
      val rows = entries.filter(_.getName.endsWith(".csv")).flatMap { e =>
        val key = e.getName.substring(e.getName.lastIndexOf('/') + 1)
          .stripSuffix(".csv")
        val ix = indexByKey.getOrElse(key, IndexMeta(IndexKind.DatetimeIndex))
        val recs = csvDataRecords(slurp(e)).map { case (label, value) =>
          (key, parseAxisLabel(label, ix), label, value)
        }
        if (ix.kind == IndexKind.IntervalIndex)
          intervalLabels(key) = recs
            .sortBy(r => (r._2.getTime, r._2.getNanos)).map(_._3).toVector
        recs.map(r => (r._1, r._2, r._4))
      }
      val metaL =
        if (intervalLabels.isEmpty) meta
        else meta.copy(signals = meta.signals.map(sg =>
          sg.copy(series = sg.series.map { sm =>
            intervalLabels.get(sm.seriesKey) match {
              case Some(labs) if sm.index.kind == IndexKind.IntervalIndex =>
                sm.copy(index = sm.index.copy(categories = labs))
              case _ => sm
            }
          })))
      import spark.implicits._
      val data = rows.toDF(KeyCol, TsCol, ValueCol)
        .select(col(KeyCol), col(TsCol),
          when(col(ValueCol) === "", lit(null)).otherwise(col(ValueCol))
            .cast(catalogDtype(metaL)).as(ValueCol))
      val signals = metaL.signals.map { sm =>
        MeteauSignal(data.filter(col(KeyCol).isin(sm.seriesKeys: _*)), sm)
      }
      MeteauDataset(data, metaL, signals)
    } finally zf.close()
  }

  /** Write an archive the REFERENCE implementation can load back
    * (`Dataset.load`, types.py:1319-1364): `{name}_metadata.yaml` at the
    * zip root, `{name}_data/{signal}_metadata.yaml` +
    * `{name}_data/{signal}_data/{series}.csv` below it — the exact layout
    * `Dataset.save` produces. Catalog fields map back to pydantic shape
    * (epoch millis → datetime strings, Spark dtypes → numpy names, index
    * kinds → pandas class names). A SMALL-EXPORT path like [[saveZip]]
    * (drives per-series collects), guarded by `maxRows`. */
  def saveReferenceZip(ds: MeteauDataset, file: String,
      maxRows: Long = 1000000L): Unit = {
    val n = ds.data.count()
    require(n <= maxRows,
      s"reference-zip export is a small-export path: $n rows > $maxRows; use save()")
    val dsName = ds.meta.name
    val out = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(file))
    def entry(name: String, body: Array[Byte]): Unit = {
      out.putNextEntry(new java.util.zip.ZipEntry(name))
      out.write(body)
      out.closeEntry()
    }
    try {
      entry(s"${dsName}_metadata.yaml",
        yamlMapper.writeValueAsBytes(refDatasetToMap(ds.meta)))
      ds.signals.foreach { sig =>
        val sigName = sig.meta.name
        entry(s"${dsName}_data/${sigName}_metadata.yaml",
          yamlMapper.writeValueAsBytes(refSignalToMap(sig.meta)))
        sig.meta.seriesKeys.foreach { key =>
          entry(s"${dsName}_data/${sigName}_data/$key.csv",
            seriesCsvBytes(sig, key))
        }
      }
    } finally out.close()
  }

  /** Write a SIGNAL-level archive the reference's `Signal.load_from_
    * directory` reads back — the layout of `Signal.save`
    * (types.py:792-808: `{signal}_metadata.yaml` at the zip root +
    * `{signal}_data/{series}.csv`). The signal twin of
    * [[saveReferenceZip]] (whose loader side, [[loadReferenceZip]],
    * already accepts both layouts). Small-export path, `maxRows`-guarded
    * like the dataset export. */
  def saveReferenceSignalZip(sig: MeteauSignal, file: String,
      maxRows: Long = 1000000L): Unit = {
    val n = sig.data.count()
    require(n <= maxRows,
      s"reference-zip export is a small-export path: $n rows > $maxRows; use save()")
    val name = sig.meta.name
    val out = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(file))
    def entry(e: String, body: Array[Byte]): Unit = {
      out.putNextEntry(new java.util.zip.ZipEntry(e))
      out.write(body)
      out.closeEntry()
    }
    try {
      entry(s"${name}_metadata.yaml",
        yamlMapper.writeValueAsBytes(refSignalToMap(sig.meta)))
      sig.meta.seriesKeys.foreach { key =>
        entry(s"${name}_data/$key.csv", seriesCsvBytes(sig, key))
      }
    } finally out.close()
  }

  /** One series as a pandas-parity CSV body (shared by the dataset- and
    * signal-level reference exports). */
  private def seriesCsvBytes(sig: MeteauSignal, key: String): Array[Byte] = {
    val ix = sig.meta.seriesMeta(key).map(_.index)
      .getOrElse(IndexMeta(IndexKind.DatetimeIndex))
    val rows = sig.series(key)
      .orderBy(col(TsCol))
      .select(col(TsCol).cast("double"), // epoch seconds w/ fraction
        date_format(col(TsCol), "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        col(ValueCol).cast("string"))
      .collect()
    // pandas writes whole-second labels when the column has no sub-second
    // point, µs labels otherwise (column-uniform); r3 always wrote
    // seconds, collapsing sub-second data onto duplicate labels
    val subSec = rows.exists(r =>
      !r.isNullAt(1) && !r.getString(1).endsWith(".000000"))
    val points = rows.map { r =>
      val dt = r.getString(1)
      (r.getDouble(0), if (subSec) dt else dt.stripSuffix(".000000"))
    }
    val labels = axisLabels(points, ix)
    val sb = new StringBuilder(s",$key\n") // pandas to_csv header
    rows.zip(labels).foreach { case (r, lab) =>
      sb.append(csvField(lab)).append(',')
        .append(csvField(r.getString(2))).append('\n')
    }
    sb.toString.getBytes("UTF-8")
  }

  /** Whole-series label rendering — the inverse of [[parseAxisLabel]].
    * Interval indexes need series-level context: the axis point only
    * carries the LEFT bound, so right bounds come from the labels captured
    * at load time ([[loadReferenceZip]] stores them in the categories
    * slot) or, for engine-built contiguous indexes, from the successor's
    * left bound (pd.interval_range shape; the last interval repeats the
    * previous width). Every other kind renders point-locally via
    * [[axisLabel]]. */
  private def axisLabels(points: Array[(Double, String)],
      ix: IndexMeta): Array[String] = ix.kind match {
    case IndexKind.IntervalIndex =>
      // Datetime interval axes key by Long µs — the SAME quantization
      // fromSecondsDouble applied to the axis at load (round(left*1e6));
      // exact-Double keying missed any left bound that doesn't round-trip
      // the µs timestamp axis and silently fabricated a guessed-width
      // label in its place. The round(axis*1e6) lookup recovers the
      // stored micros exactly: two roundings at epoch-µs magnitude
      // (~2^51) err < 0.25 < 0.5. That quantization is ONLY justified at
      // µs-timestamp magnitudes: a plain numeric interval axis with
      // |left| > ~9.2e12 would saturate Long.MaxValue (all lefts
      // colliding onto one stored label) and distinct lefts within 5e-7
      // would collide — so numeric axes key by exact Double bits instead
      // (both sides parse the same decimal text, so bits match).
      val isDatetime =
        ix.dtype.startsWith("datetime") || ix.dtype.startsWith("timestamp")
      val keyOf: Double => Long =
        if (isDatetime) l => math.round(l * 1e6)
        else l => java.lang.Double.doubleToLongBits(l)
      val stored: Map[Long, String] = ix.categories.iterator
        .flatMap(lab => intervalLeft(lab).map(l => keyOf(l) -> lab)).toMap
      val lefts = points.map(_._1)
      val isInt = ix.dtype.contains("int64") || ix.dtype.contains("int32")
      def fmtNum(x: Double): String =
        if (isInt) math.round(x).toString
        else if (x == math.rint(x) && math.abs(x) < 1e15) s"${x.toLong}.0"
        else x.toString
      val (lo, hi) = ix.closed match {
        case Some("left") => ("[", ")")
        case Some("both") => ("[", "]")
        case Some("neither") => ("(", ")")
        case _ => ("(", "]")
      }
      lefts.zipWithIndex.map { case (l, i) =>
        stored.getOrElse(keyOf(l), {
          val width =
            if (i + 1 < lefts.length) lefts(i + 1) - l
            else if (i > 0) l - lefts(i - 1)
            else 1.0
          s"$lo${fmtNum(l)}, ${fmtNum(l + width)}$hi"
        })
      }
    case _ => points.map { case (e, d) => axisLabel(e, d, ix) }
  }

  /** Left bound of a pandas interval label "(a, b]" (any closure). */
  private def intervalLeft(label: String): Option[Double] = {
    val t = label.trim
    val c = t.indexOf(',')
    if (t.length > 2 && c > 1)
      scala.util.Try(t.substring(1, c).trim.toDouble).toOption
    else None
  }

  /** One point's pandas label in a reference-format CSV, per index kind,
    * so the reference's reconstruct_index rebuilds the original index.
    * IntervalIndex is handled series-level in [[axisLabels]]. */
  private def axisLabel(epochSecs: Double, datetime: String,
      ix: IndexMeta): String = ix.kind match {
    case IndexKind.CategoricalIndex =>
      val ord = math.round(epochSecs).toInt
      if (ord >= 0 && ord < ix.categories.size) ix.categories(ord)
      else ord.toString
    case IndexKind.TimedeltaIndex =>
      val totalMicros = math.round(epochSecs * 1e6)
      val d = totalMicros / 86400000000L
      val rem = totalMicros % 86400000000L
      val h = rem / 3600000000L; val m = (rem / 60000000L) % 60
      val sWhole = (rem / 1000000L) % 60; val frac = rem % 1000000L
      val base = f"$d days $h%02d:$m%02d:$sWhole%02d"
      if (frac == 0) base else f"$base.$frac%06d"
    case IndexKind.PeriodIndex =>
      ix.frequency match {
        case Some(f) if f.startsWith("M") => datetime.substring(0, 7) // yyyy-MM
        case Some(f) if f.startsWith("Y") || f.startsWith("A") =>
          datetime.substring(0, 4)
        case Some(f) if f.startsWith("W") =>
          // pandas W-frequency Period labels are start/end date ranges
          // ('2023-12-25/2023-12-31'); the axis point is the period start
          val start = java.time.LocalDate.parse(datetime.substring(0, 10))
          s"$start/${start.plusDays(6)}"
        case _ => datetime
      }
    case IndexKind.RangeIndex | IndexKind.PlainIndex =>
      val r = math.round(epochSecs)
      if (r.toDouble == epochSecs) r.toString else epochSecs.toString
    case _ => datetime
  }

  private def refDatetime(epochMillis: Long): String =
    java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(epochMillis), java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))

  private def sparkDtypeToNp(s: String): String = s match {
    case "double" | "float" => "float64"
    case "bigint" | "long" | "int" => "int64"
    case "boolean" => "bool"
    case "string" => "object"
    case _ => "float64"
  }

  private def refKindName(k: IndexKind): String = k match {
    case IndexKind.DatetimeIndex => "DatetimeIndex"
    case IndexKind.TimedeltaIndex => "TimedeltaIndex"
    case IndexKind.PeriodIndex => "PeriodIndex"
    case IndexKind.IntervalIndex => "IntervalIndex"
    case IndexKind.CategoricalIndex => "CategoricalIndex"
    case IndexKind.RangeIndex => "RangeIndex"
    case IndexKind.PlainIndex => "Index"
  }

  private def refDatasetToMap(d: DatasetMeta): ju.Map[String, Object] = {
    val sigs = new ju.LinkedHashMap[String, Object]()
    d.signals.foreach(sm => sigs.put(sm.name, refSignalToMap(sm)))
    jmapN(
      "name" -> d.name, "description" -> d.description, "owner" -> d.owner,
      "purpose" -> d.purpose, "project" -> d.project,
      "created_on" -> refDatetime(d.createdOn),
      "last_updated" -> refDatetime(d.lastUpdated),
      "signals" -> sigs)
  }

  private def refSignalToMap(s: SignalMeta): ju.Map[String, Object] = {
    val series = new ju.LinkedHashMap[String, Object]()
    s.series.foreach { sm =>
      series.put(sm.seriesKey, jmapN(
        "processing_steps" -> sm.steps.map(refStepToMap).asJava,
        "index_metadata" -> jmapN(
          "type" -> refKindName(sm.index.kind),
          "name" -> sm.index.name.orNull,
          "dtype" -> (if (sm.index.kind == IndexKind.DatetimeIndex &&
            sm.index.dtype == "timestamp") "datetime64[ns]" else sm.index.dtype),
          "frequency" -> sm.index.frequency.orNull,
          "time_zone" -> sm.index.timeZone.orNull,
          "closed" -> sm.index.closed.orNull,
          "categories" -> (if (sm.index.categories.isEmpty) null
            else sm.index.categories.asJava),
          "ordered" -> sm.index.ordered.map(Boolean.box).orNull,
          "start" -> sm.index.start.map(Long.box).orNull,
          "end" -> sm.index.end.map(Long.box).orNull,
          "step" -> sm.index.step.map(Long.box).orNull),
        "values_dtype" -> sparkDtypeToNp(sm.valuesDtype),
        "created_on" -> refDatetime(sm.createdOn)))
    }
    jmapN(
      "name" -> s.name, "units" -> s.units,
      "provenance" -> jmapN(
        "source_repository" -> s.provenance.sourceRepository.orNull,
        "project" -> s.provenance.project.orNull,
        "location" -> s.provenance.location.orNull,
        "equipment" -> s.provenance.equipment.orNull,
        "parameter" -> s.provenance.parameter.orNull,
        "purpose" -> s.provenance.purpose.orNull,
        "metadata_id" -> s.provenance.metadataId.orNull),
      "created_on" -> refDatetime(s.createdOn),
      "last_updated" -> refDatetime(s.lastUpdated),
      "time_series" -> series)
  }

  private def refStepToMap(st: ProcessingStep): ju.Map[String, Object] = jmapN(
    "type" -> st.stepType.value,
    "description" -> st.description,
    "run_datetime" -> refDatetime(st.runDatetime),
    "requires_calibration" -> Boolean.box(st.requiresCalibration),
    "function_info" -> jmapN(
      "name" -> st.functionInfo.name, "version" -> st.functionInfo.version,
      "author" -> st.functionInfo.author,
      "reference" -> st.functionInfo.reference,
      "source_code" -> st.functionInfo.sourceDescription.orNull),
    "parameters" -> st.parameters.entries.asJava,
    "suffix" -> st.suffix,
    "step_distance" -> Int.box(st.stepDistance),
    "input_series_names" -> st.inputSeriesNames.asJava)

  /** pandas-style minimal CSV quoting (csv.QUOTE_MINIMAL, what the
    * reference's to_csv emits): a field is quoted iff it contains a comma,
    * quote, CR, or LF; inner quotes are doubled. */
  private def csvField(s: String): String =
    if (s == null) ""
    else if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** Streaming CSV record parser (the RFC-4180 subset pandas emits):
    * quoted fields with doubled inner quotes and embedded commas/CR/LF —
    * the inverse of [[csvField]]. Replaces the r3 line-splitter that
    * corrupted quoted VALUES in both directions (and broke on values with
    * embedded newlines, which a line iterator splits mid-record). */
  private def csvRecords(text: String): Iterator[Vector[String]] =
    new Iterator[Vector[String]] {
      private var i = 0
      def hasNext: Boolean = i < text.length
      def next(): Vector[String] = {
        val fields = Vector.newBuilder[String]
        val sb = new StringBuilder
        var inQ = false
        var done = false
        while (!done && i < text.length) {
          val c = text.charAt(i)
          if (inQ) {
            if (c == '"') {
              if (i + 1 < text.length && text.charAt(i + 1) == '"') {
                sb.append('"'); i += 2
              } else { inQ = false; i += 1 }
            } else { sb.append(c); i += 1 }
          } else c match {
            case '"' => inQ = true; i += 1
            case ',' => fields += sb.toString; sb.clear(); i += 1
            case '\r' =>
              i += 1
              if (i < text.length && text.charAt(i) == '\n') i += 1
              done = true
            case '\n' => i += 1; done = true
            case other => sb.append(other); i += 1
          }
        }
        fields += sb.toString
        fields.result()
      }
    }

  /** Streaming byte-budget for the zip load paths: counts ACTUAL bytes as
    * entries decompress and aborts once the cumulative total exceeds the
    * budget — declared central-directory sizes can lie or be missing, so
    * the [[guardCsvBytes]] pre-check alone is a false bound (a readAllBytes
    * slurp after it would still OOM the driver on a hostile archive). */
  private final class ByteBudget(maxBytes: Long) {
    private var used = 0L
    def read(zf: java.util.zip.ZipFile, e: java.util.zip.ZipEntry): String = {
      val in = zf.getInputStream(e)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) {
          used += n
          require(used <= maxBytes,
            s"archive payload exceeds $maxBytes bytes while reading " +
              s"${e.getName} (driver-side parse); use the distributed " +
              "save()/load() for large datasets")
          out.write(buf, 0, n)
          n = in.read(buf)
        }
        new String(out.toByteArray, "UTF-8")
      } finally in.close()
    }
  }

  /** Fast-fail pre-check on DECLARED uncompressed CSV sizes (honest
    * archives fail before any decompression); the enforced bound is
    * [[ByteBudget]], which meters actual bytes while streaming. Entries
    * with unknown size (-1) count as 0 here — the budget catches them. */
  private def guardCsvBytes(entries: List[java.util.zip.ZipEntry],
      maxBytes: Long): Unit = {
    val total = entries.filter(_.getName.endsWith(".csv"))
      .map(e => math.max(e.getSize, 0L)).sum
    require(total <= maxBytes,
      s"archive CSV payload $total bytes > $maxBytes (driver-side parse); " +
        "use the distributed save()/load() for large datasets")
  }

  /** Non-blank data records of a two-column pandas CSV (header dropped). */
  private def csvDataRecords(text: String): List[(String, String)] =
    csvRecords(text).drop(1)
      .filter(r => r.length > 1 || r.headOption.exists(_.nonEmpty))
      .map(r => (r.head, if (r.length > 1) r(1) else ""))
      .toList

  /** One pandas index label → a point on the engine's timestamp axis,
    * using the series' IndexMeta to pick the grammar. Non-time kinds are
    * embedded order-faithfully (timedeltas/numerics as epoch offsets in
    * their own unit, interval labels at their left bound, categorical
    * labels at their ordinal in the declared category order); the catalog
    * keeps kind/dtype/categories, so the original index is recoverable —
    * the engine analogue of the reference's reconstruct_index
    * (types.py:125-173). */
  private def parseAxisLabel(label: String, ix: IndexMeta): java.sql.Timestamp = {
    val TdPat = """^(\d+) days? (\d{2}):(\d{2}):(\d{2})(?:\.(\d+))?$""".r
    def fromMicros(micros: Long): java.sql.Timestamp = {
      val secs = java.lang.Math.floorDiv(micros, 1000000L)
      val frac = java.lang.Math.floorMod(micros, 1000000L)
      val ts = new java.sql.Timestamp(secs * 1000L)
      ts.setNanos((frac * 1000L).toInt)
      ts
    }
    def fromSecondsDouble(s: Double): java.sql.Timestamp =
      fromMicros(math.round(s * 1e6))
    val trimmed = label.trim
    ix.kind match {
      case IndexKind.CategoricalIndex =>
        val ord = ix.categories.indexOf(trimmed)
        fromMicros((if (ord >= 0) ord else ix.categories.size).toLong * 1000000L)
      case IndexKind.IntervalIndex =>
        fromSecondsDouble(intervalLeft(trimmed).getOrElse(
          throw new IllegalArgumentException(s"bad interval label: $label")))
      case IndexKind.PeriodIndex if trimmed.contains("/") =>
        // pandas W-frequency Period labels ('2023-12-25/2023-12-31'): the
        // period START anchors the axis point (r3 fell through to a
        // throwing datetime chain)
        java.sql.Timestamp.from(java.time.LocalDate.parse(
            trimmed.substring(0, trimmed.indexOf('/'))).atStartOfDay()
          .toInstant(java.time.ZoneOffset.UTC))
      case IndexKind.TimedeltaIndex => trimmed match {
        case TdPat(d, h, m, s, frac) =>
          val micros = (d.toLong * 86400L + h.toLong * 3600L +
            m.toLong * 60L + s.toLong) * 1000000L +
            Option(frac).map(f => (f + "000000").take(6).toLong).getOrElse(0L)
          fromMicros(micros)
        case other => fromSecondsDouble(other.toDouble)
      }
      case IndexKind.RangeIndex | IndexKind.PlainIndex
          if trimmed.matches("""-?\d+(\.\d+)?""") =>
        fromSecondsDouble(trimmed.toDouble)
      case _ =>
        // datetime-ish: full timestamp with optional fraction / T
        // separator, else date / month / year starts
        val dt = trimmed.replace('T', ' ')
        val full = new java.time.format.DateTimeFormatterBuilder()
          .appendPattern("yyyy-MM-dd HH:mm:ss")
          .optionalStart()
          .appendFraction(java.time.temporal.ChronoField.NANO_OF_SECOND, 1, 9, true)
          .optionalEnd()
          .toFormatter()
        val parsed: java.time.LocalDateTime =
          try java.time.LocalDateTime.parse(dt, full)
          catch { case _: Exception =>
            try java.time.LocalDate.parse(dt).atStartOfDay()
            catch { case _: Exception =>
              try java.time.YearMonth.parse(dt).atDay(1).atStartOfDay()
              catch { case _: Exception =>
                java.time.Year.parse(dt).atMonth(1).atDay(1).atStartOfDay() } } }
        java.sql.Timestamp.from(parsed.toInstant(java.time.ZoneOffset.UTC))
    }
  }

  /** YAML via the Jackson dataformat bundled with Spark (snakeyaml-engine
    * backend) — handles the reference's folded/escaped multi-line
    * source_code strings that a hand-rolled parser would choke on. */
  private val yamlMapper = new com.fasterxml.jackson.databind.ObjectMapper(
    new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())

  /** pydantic datetimes arrive as "yyyy-MM-dd HH:mm:ss[.SSSSSS]" strings
    * (or java.util.Date depending on the YAML schema) → epoch millis. */
  private def refEpochMillis(v: Object): Long = v match {
    case null => 0L
    case d: java.util.Date => d.getTime
    case s =>
      val txt = s.toString.trim.replace('T', ' ')
      try {
        val f = new java.time.format.DateTimeFormatterBuilder()
          .appendPattern("yyyy-MM-dd HH:mm:ss")
          .optionalStart()
          .appendFraction(java.time.temporal.ChronoField.NANO_OF_SECOND, 1, 9, true)
          .optionalEnd()
          .toFormatter()
        java.time.LocalDateTime.parse(txt, f)
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      } catch { case _: Exception => 0L }
  }

  /** numpy/pandas dtype names → Spark SQL type names (types.py:264-290
    * stores the pandas dtype; we re-impose the Spark equivalent). */
  private def npDtypeToSpark(s: String): String = s match {
    case "float64" | "float32" | "float16" => "double"
    case "int64" | "int32" | "int16" | "int8" |
         "uint64" | "uint32" | "uint16" | "uint8" => "bigint"
    case "bool" | "boolean" => "boolean"
    case "object" | "string" | "str" => "string"
    case _ => "double"
  }

  /** pandas index class names → catalog index kinds (types.py:106-170). */
  private def refIndexKind(s: String): IndexKind = s match {
    case "DatetimeIndex" => IndexKind.DatetimeIndex
    case "TimedeltaIndex" => IndexKind.TimedeltaIndex
    case "PeriodIndex" => IndexKind.PeriodIndex
    case "IntervalIndex" => IndexKind.IntervalIndex
    case "CategoricalIndex" => IndexKind.CategoricalIndex
    case "RangeIndex" => IndexKind.RangeIndex
    case _ => IndexKind.PlainIndex
  }

  private def refDatasetFromMap(m: ju.Map[String, Object]): DatasetMeta = {
    import scala.jdk.CollectionConverters._
    val sigs = Option(m.get("signals"))
      .map(_.asInstanceOf[ju.Map[String, Object]].asScala.toVector)
      .getOrElse(Vector.empty)
      .map { case (_, sm) => refSignalFromMap(sm.asInstanceOf[ju.Map[String, Object]]) }
    DatasetMeta(str(m, "name"), str(m, "description"), str(m, "owner"),
      str(m, "purpose"), str(m, "project"),
      refEpochMillis(m.get("created_on")), refEpochMillis(m.get("last_updated")),
      sigs)
  }

  private def refSignalFromMap(m: ju.Map[String, Object]): SignalMeta = {
    import scala.jdk.CollectionConverters._
    val series = Option(m.get("time_series"))
      .map(_.asInstanceOf[ju.Map[String, Object]].asScala.toVector)
      .getOrElse(Vector.empty)
      .map { case (key, raw) =>
        val tsm = raw.asInstanceOf[ju.Map[String, Object]]
        SeriesMeta(key,
          objs(tsm, "processing_steps").map(refStepFromMap),
          refIndexFromMap(tsm.get("index_metadata").asInstanceOf[ju.Map[String, Object]]),
          npDtypeToSpark(str(tsm, "values_dtype")),
          refEpochMillis(tsm.get("created_on")))
      }
    SignalMeta(str(m, "name"), str(m, "units"),
      provFromMap(m.get("provenance").asInstanceOf[ju.Map[String, Object]]),
      refEpochMillis(m.get("created_on")), refEpochMillis(m.get("last_updated")),
      series)
  }

  private def refIndexFromMap(m: ju.Map[String, Object]): IndexMeta =
    if (m == null) IndexMeta(IndexKind.DatetimeIndex)
    else IndexMeta(refIndexKind(str(m, "type")), optStr(m, "name"),
      str(m, "dtype"), optStr(m, "frequency"), optStr(m, "time_zone"),
      optStr(m, "closed"),
      Option(m.get("categories"))
        .map(_.asInstanceOf[ju.List[Object]].asScala.toSeq.map(_.toString))
        .getOrElse(Nil),
      Option(m.get("ordered")).map(_.asInstanceOf[Boolean].booleanValue),
      Option(m.get("start")).map(_.asInstanceOf[Number].longValue),
      Option(m.get("end")).map(_.asInstanceOf[Number].longValue),
      Option(m.get("step")).map(_.asInstanceOf[Number].longValue))

  private def refStepFromMap(m: ju.Map[String, Object]): ProcessingStep = {
    import scala.jdk.CollectionConverters._
    val fi = m.get("function_info").asInstanceOf[ju.Map[String, Object]]
    ProcessingStep(
      ProcessingType.fromString(str(m, "type")), str(m, "description"),
      refEpochMillis(m.get("run_datetime")),
      Option(m.get("requires_calibration"))
        .exists(_.asInstanceOf[Boolean].booleanValue),
      FunctionInfo(str(fi, "name"), str(fi, "version"), str(fi, "author"),
        str(fi, "reference"), optStr(fi, "source_code")),
      Parameters(Option(m.get("parameters"))
        .map(_.asInstanceOf[ju.Map[String, Object]].asScala.toMap
          .map { case (k, v) => k -> Option(v).map(_.toString).getOrElse("") })
        .getOrElse(Map.empty)),
      str(m, "suffix"),
      lng(m, "step_distance").toInt,
      Option(m.get("input_series_names"))
        .map(_.asInstanceOf[ju.List[Object]].asScala.toSeq.map(_.toString))
        .getOrElse(Nil))
  }

  // ---------------------------------------------------------------- JSON

  /** Hand-rolled catalog⇔JSON mapping via Jackson's untyped tree (ships
    * with Spark). Explicit field-by-field mapping keeps the format stable
    * and independent of Scala case-class encoding quirks. */
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Writes the catalog to a temp file beside `file`, then renames it into
    * place: a reader sees the whole document or none. */
  def writeMetadata(meta: DatasetMeta, file: String, spark: SparkSession): Unit = {
    val json = mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(datasetToMap(meta))
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(file)
    val fs = p.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    // a Hadoop rename does not replace an existing target
    fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"cannot rename $tmp to $p")
  }

  def readMetadata(file: String, spark: SparkSession): DatasetMeta = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(file)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    val bytes =
      try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in) finally in.close()
    datasetFromMap(mapper.readValue(new String(bytes, "UTF-8"),
      classOf[java.util.Map[String, Object]]))
  }

  def toJson(meta: DatasetMeta): String =
    mapper.writeValueAsString(datasetToMap(meta))

  def fromJson(json: String): DatasetMeta =
    datasetFromMap(mapper.readValue(json, classOf[java.util.Map[String, Object]]))

  // ---- map builders (java collections so Jackson needs no Scala module)

  private def jmap(kvs: (String, Object)*): ju.Map[String, Object] = {
    val m = new ju.LinkedHashMap[String, Object]()
    kvs.foreach { case (k, v) => if (v != null) m.put(k, v) }
    m
  }

  /** Like [[jmap]] but KEEPS null values: the reference's pydantic models
    * declare Optional fields without defaults, so reference-format YAML
    * must carry every key explicitly (null included). */
  private def jmapN(kvs: (String, Object)*): ju.Map[String, Object] = {
    val m = new ju.LinkedHashMap[String, Object]()
    kvs.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def datasetToMap(d: DatasetMeta): ju.Map[String, Object] = jmap(
    "name" -> d.name, "description" -> d.description, "owner" -> d.owner,
    "purpose" -> d.purpose, "project" -> d.project,
    "created_on" -> Long.box(d.createdOn),
    "last_updated" -> Long.box(d.lastUpdated),
    "signals" -> d.signals.map(signalToMap).asJava)

  private def signalToMap(s: SignalMeta): ju.Map[String, Object] = jmap(
    "name" -> s.name, "units" -> s.units,
    "provenance" -> provToMap(s.provenance),
    "created_on" -> Long.box(s.createdOn),
    "last_updated" -> Long.box(s.lastUpdated),
    "series" -> s.series.map(seriesToMap).asJava)

  private def provToMap(p: DataProvenance): ju.Map[String, Object] = jmap(
    "source_repository" -> p.sourceRepository.orNull,
    "project" -> p.project.orNull, "location" -> p.location.orNull,
    "equipment" -> p.equipment.orNull, "parameter" -> p.parameter.orNull,
    "purpose" -> p.purpose.orNull, "metadata_id" -> p.metadataId.orNull)

  private def seriesToMap(sm: SeriesMeta): ju.Map[String, Object] = jmap(
    "series_key" -> sm.seriesKey,
    "values_dtype" -> sm.valuesDtype,
    "created_on" -> Long.box(sm.createdOn),
    "index" -> indexToMap(sm.index),
    "steps" -> sm.steps.map(stepToMap).asJava)

  private def indexToMap(ix: IndexMeta): ju.Map[String, Object] = jmap(
    "kind" -> ix.kind.value, "name" -> ix.name.orNull, "dtype" -> ix.dtype,
    "frequency" -> ix.frequency.orNull, "time_zone" -> ix.timeZone.orNull,
    "closed" -> ix.closed.orNull,
    "categories" -> (if (ix.categories.isEmpty) null else ix.categories.asJava),
    "ordered" -> ix.ordered.map(Boolean.box).orNull,
    "start" -> ix.start.map(Long.box).orNull,
    "end" -> ix.end.map(Long.box).orNull,
    "step" -> ix.step.map(Long.box).orNull)

  private def stepToMap(st: ProcessingStep): ju.Map[String, Object] = jmap(
    "type" -> st.stepType.value, "description" -> st.description,
    "run_datetime" -> Long.box(st.runDatetime),
    "requires_calibration" -> Boolean.box(st.requiresCalibration),
    "function_info" -> jmap(
      "name" -> st.functionInfo.name, "version" -> st.functionInfo.version,
      "author" -> st.functionInfo.author,
      "reference" -> st.functionInfo.reference,
      "source_description" -> st.functionInfo.sourceDescription.orNull),
    "parameters" -> st.parameters.entries.asJava,
    "suffix" -> st.suffix,
    "step_distance" -> Int.box(st.stepDistance),
    "input_series_names" -> st.inputSeriesNames.asJava)

  // ---- map readers

  private def str(m: ju.Map[String, Object], k: String): String =
    Option(m.get(k)).map(_.toString).getOrElse("")
  private def optStr(m: ju.Map[String, Object], k: String): Option[String] =
    Option(m.get(k)).map(_.toString)
  private def lng(m: ju.Map[String, Object], k: String): Long =
    Option(m.get(k)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
  private def objs(m: ju.Map[String, Object], k: String): Seq[ju.Map[String, Object]] =
    Option(m.get(k)).map(_.asInstanceOf[ju.List[ju.Map[String, Object]]].asScala.toSeq)
      .getOrElse(Nil)

  private def datasetFromMap(m: ju.Map[String, Object]): DatasetMeta =
    DatasetMeta(str(m, "name"), str(m, "description"), str(m, "owner"),
      str(m, "purpose"), str(m, "project"), lng(m, "created_on"),
      lng(m, "last_updated"), objs(m, "signals").map(signalFromMap).toVector)

  private def signalFromMap(m: ju.Map[String, Object]): SignalMeta =
    SignalMeta(str(m, "name"), str(m, "units"),
      provFromMap(m.get("provenance").asInstanceOf[ju.Map[String, Object]]),
      lng(m, "created_on"), lng(m, "last_updated"),
      objs(m, "series").map(seriesFromMap).toVector)

  private def provFromMap(m: ju.Map[String, Object]): DataProvenance =
    if (m == null) DataProvenance()
    else DataProvenance(optStr(m, "source_repository"), optStr(m, "project"),
      optStr(m, "location"), optStr(m, "equipment"), optStr(m, "parameter"),
      optStr(m, "purpose"), optStr(m, "metadata_id"))

  private def seriesFromMap(m: ju.Map[String, Object]): SeriesMeta =
    SeriesMeta(str(m, "series_key"),
      objs(m, "steps").map(stepFromMap),
      indexFromMap(m.get("index").asInstanceOf[ju.Map[String, Object]]),
      str(m, "values_dtype"), lng(m, "created_on"))

  private def indexFromMap(m: ju.Map[String, Object]): IndexMeta =
    if (m == null) IndexMeta(IndexKind.DatetimeIndex)
    else IndexMeta(IndexKind.fromString(str(m, "kind")), optStr(m, "name"),
      str(m, "dtype"), optStr(m, "frequency"), optStr(m, "time_zone"),
      optStr(m, "closed"),
      Option(m.get("categories"))
        .map(_.asInstanceOf[ju.List[String]].asScala.toSeq).getOrElse(Nil),
      Option(m.get("ordered")).map(_.asInstanceOf[Boolean].booleanValue),
      Option(m.get("start")).map(_.asInstanceOf[Number].longValue),
      Option(m.get("end")).map(_.asInstanceOf[Number].longValue),
      Option(m.get("step")).map(_.asInstanceOf[Number].longValue))

  private def stepFromMap(m: ju.Map[String, Object]): ProcessingStep = {
    val fi = m.get("function_info").asInstanceOf[ju.Map[String, Object]]
    ProcessingStep(
      ProcessingType.fromString(str(m, "type")), str(m, "description"),
      lng(m, "run_datetime"),
      Option(m.get("requires_calibration"))
        .exists(_.asInstanceOf[Boolean].booleanValue),
      FunctionInfo(str(fi, "name"), str(fi, "version"), str(fi, "author"),
        str(fi, "reference"), optStr(fi, "source_description")),
      Parameters(Option(m.get("parameters"))
        .map(_.asInstanceOf[ju.Map[String, String]].asScala.toMap)
        .getOrElse(Map.empty)),
      str(m, "suffix"),
      lng(m, "step_distance").toInt,
      Option(m.get("input_series_names"))
        .map(_.asInstanceOf[ju.List[String]].asScala.toSeq).getOrElse(Nil))
  }
}
