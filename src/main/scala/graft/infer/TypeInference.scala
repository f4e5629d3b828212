package graft.infer

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.WwConfig
import graft.types.{ColStats, LogicalType, TypeSystem}
import graft.util.Concurrency.runConcurrently

/** Distributed logical-type inference.
  *
  * The reference evaluates per-type python predicates over a ≤100k-row sample
  * series-by-series (reference: woodwork/type_sys/type_system.py:336-437).
  * Spark-first re-expression: each string or numeric column first collapses
  * the cached sample into `(value, n)` groups, then ONE small agg over those
  * groups computes every statistic a predicate needs, each count weighted by
  * `n`. A predicate — the regex guards and the 12-format datetime cascade —
  * therefore runs once per DISTINCT sample value, not once per row, and the
  * distinct count is the number of non-null groups. Other columns need only
  * their total and non-null counts. The per-column jobs run concurrently;
  * the DAG walk then runs driver-side on the collected numbers. The plans
  * are fully codegen'd (no UDFs).
  */
object TypeInference {

  /** Common English words used by NaturalLanguage inference. Word list data
    * from the reference distribution (reference: woodwork/data/1-1000.txt,
    * loaded at inference_functions.py:18-22) — a public top-1000 English word
    * list; threshold at inference_functions.py:169-174.
    */
  lazy val commonWords: Array[String] = {
    val in = getClass.getResourceAsStream("/graft/common-words-1000.txt")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim.toLowerCase).filter(_.nonEmpty).toArray
    finally in.close()
  }

  /** reference: inference_functions.py:24 NL_delimiters */
  val nlDelimiters: String = "[- \\[\\].,!?;\n]"

  private val intRegex = "^\\s*[-+]?[0-9]+\\s*$"

  /** Shared multi-format timestamp parse — the same parser the Datetime
    * coercion uses, so infer-as-Datetime implies coerces-as-Datetime.
    */
  private def tsParse(s: Column): Column = LogicalType.parseTimestamp(s)

  /** The lowercased boolean tokens, in the order of the `boolTokens` flags. */
  private[graft] def boolTokenList: Seq[String] =
    WwConfig.options.booleanTransformMappings.keySet.toSeq.sorted

  /** Per-value predicates of a string or numeric column, keyed by the
    * [[ColStats]] field each one counts: the field is the number of sample
    * rows whose value `v` satisfies the predicate.
    */
  private[graft] def predicates(v: Column, dt: DataType): Seq[(String, Column)] =
    dt match {
      case StringType =>
        val opts = WwConfig.options
        val dbl = v.try_cast(DoubleType)
        Seq(
          "intParseFail" -> (v.isNotNull && !v.rlike(intRegex)),
          "dblParseFail" -> (v.isNotNull && dbl.isNull),
          "dblNonIntegral" -> (dbl.isNotNull && dbl % 1 =!= 0),
          // cheap disqualifier ahead of the 12-format cascade: no supported
          // datetime shape (numeric separators, 3-letter month abbrevs, 'T')
          // contains a run of 4+ letters, and Or short-circuits — so
          // "1-URGENT"/"AUTOMOBILE"-style values never pay a parse attempt.
          // Exception: a trailing region zone-id ("... Europe/Paris"), which
          // the native timestamp cast accepts — those fall through to the
          // parse instead of being disqualified by their letter run.
          "dtParseFail" -> (v.isNotNull &&
            ((v.rlike("[A-Za-z]{4}") &&
              !v.rlike("[A-Za-z_]+(/[A-Za-z_]+)+\\s*$")) || tsParse(v).isNull)),
          "boolBadToken" -> (v.isNotNull && !lower(v).isin(boolTokenList: _*)),
          // each expensive regex is short-circuited by a cheap guard: a value
          // failing the guard counts as a fail without running the regex
          "emailFail" -> (v.isNotNull && !(v.contains("@") &&
            LogicalType.startMatch(v, opts.emailInferenceRegex))),
          "phoneFail" -> (v.isNotNull && !(length(v).between(7, 24) &&
            LogicalType.startMatch(v, opts.phoneInferenceRegex))),
          "postalFail" -> (v.isNotNull && !(length(v).between(5, 10) &&
            LogicalType.startMatch(v, opts.postalCodeInferenceRegex))),
          "urlFail" -> (v.isNotNull && !(v.startsWith("http") &&
            LogicalType.startMatch(v, opts.urlInferenceRegex))),
          "ipFail" -> (v.isNotNull && !(length(v).between(2, 45) &&
            (v.contains(".") || v.contains(":")) &&
            LogicalType.startMatch(v,
              s"(${opts.ipv4InferenceRegex})|(${opts.ipv6InferenceRegex})"))),
          // date-shape screen for the learned-format deferred pass: only a
          // column whose EVERY non-null value looks like a 3-field date pays
          // the driver-side format vote (DatetimeFormat.guessFormat)
          "dateShapeCount" -> (v.isNotNull && v.rlike(DatetimeFormat.dateShapeRegex)))
      case _ if LogicalType.isFractionalType(dt) =>
        Seq("numNonIntegral" -> (v.isNotNull && v % 1 =!= 0))
      case _ => Nil
    }

  /** Per-token presence flags of a string column, in [[boolTokenList]]
    * order. max(when(...)) instead of collect_set: a TypedImperativeAggregate
    * in the agg list forces the ENTIRE agg out of whole-stage codegen.
    */
  private def boolTokenFlags(v: Column): Column = {
    val lowered = lower(v)
    array(boolTokenList.map(t =>
      coalesce(max(when(lowered === t, 1)), lit(0))): _*).as("boolTokens")
  }

  /** [[ColStats]] of one column over the sample. A string or numeric column
    * is collapsed to `(v, n)` groups first, keyed by the null-replaced
    * string (so the sentinels fall into the null group) or by the raw
    * number. Then `totalCount` is sum(n), `nonNullCount` sum(n) over
    * non-null `v`, `distinctCount` count(v), and each predicate count
    * sum(when(pred, n)). NL word counting is NOT done here: it runs as a
    * deferred explode+InSet job only for columns nothing else matched — the
    * reference's evaluation order (type_system.py:391-411).
    */
  private def columnStats(sampled: DataFrame, f: StructField): ColStats = {
    val c = col(f.name)
    val row = f.dataType match {
      case dt @ (StringType | _: NumericType) =>
        val v = col("v")
        val n = col("n")
        def weighted(cond: Column) = coalesce(sum(when(cond, n)), lit(0L))
        val stats = Seq(
          weighted(lit(true)).as("totalCount"),
          weighted(v.isNotNull).as("nonNullCount"),
          count(v).as("distinctCount")) ++
          predicates(v, dt).map { case (k, cond) => weighted(cond).as(k) } ++
          (if (dt == StringType) Seq(boolTokenFlags(v)) else Nil)
        sampled.groupBy(LogicalType.replaceNans(c, dt).as("v"))
          .agg(count(lit(1)).as("n"))
          .agg(stats.head, stats.tail: _*).head()
      case _ =>
        sampled.agg(count(lit(1)).as("totalCount"), count(c).as("nonNullCount"))
          .head()
    }
    toStats(row, f.dataType)
  }

  /** Reads the named stats of one column. A stat its type does not compute
    * is 0, except the regex fail counts, which are 1 so that no regex type
    * matches a non-string column.
    */
  private def toStats(r: Row, dt: DataType): ColStats = {
    val names = r.schema.fieldNames.toSet
    def stat(k: String, absent: Long): Long =
      if (names(k)) r.getAs[Long](k) else absent
    ColStats(
      dataType = dt,
      totalCount = stat("totalCount", 0L),
      nonNullCount = stat("nonNullCount", 0L),
      distinctCount = stat("distinctCount", 0L),
      intParseFail = stat("intParseFail", 0L),
      dblParseFail = stat("dblParseFail", 0L),
      dblNonIntegral = stat("dblNonIntegral", 0L),
      numNonIntegral = stat("numNonIntegral", 0L),
      dtParseFail = stat("dtParseFail", 0L),
      boolBadToken = stat("boolBadToken", 0L),
      boolTokens =
        if (!names("boolTokens")) Set.empty
        else boolTokenList.zip(r.getAs[Seq[Int]]("boolTokens"))
          .collect { case (t, 1) => t }.toSet,
      emailFail = stat("emailFail", 1L),
      phoneFail = stat("phoneFail", 1L),
      postalFail = stat("postalFail", 1L),
      urlFail = stat("urlFail", 1L),
      ipFail = stat("ipFail", 1L),
      nlAvgCommonWords = Double.NaN,
      dateShapeCount = stat("dateShapeCount", 0L)
    )
  }

  /** Compute [[ColStats]] for the given columns over the inference sample.
    * Sampling matches the reference's bound (100k rows, seed 42; reference:
    * type_system.py:101,349-358); tables at or below the bound are used whole,
    * which pins exact reproducibility at test scale.
    */
  def collectStats(df: DataFrame, cols: Seq[String]): Map[String, ColStats] = {
    val (stats, _, cleanup) = collectStatsWithSample(df, cols)
    cleanup()
    stats
  }

  /** Returns the stats, the (cached) sample frame for follow-up jobs (the NL
    * pass reuses it), and a cleanup thunk that releases ONLY the cache this
    * call created — when no sampling occurred and the caller had already
    * persisted `df`, the caller's cache is left untouched.
    */
  private def collectStatsWithSample(
      df: DataFrame,
      cols: Seq[String]): (Map[String, ColStats], DataFrame, () => Unit) = {
    if (cols.isEmpty) return (Map.empty, df, () => ())
    val sampleSize = WwConfig.options.inferenceSampleSize
    val total = df.count()
    // Above the bound, Bernoulli sampling lands within ~1% of the reference's
    // exact 100k sample; an exact-size sample would need a limit() that
    // collapses the stats agg to one partition. Tables at or below the bound
    // are used whole (exact reproducibility at test scale).
    val base =
      if (total > sampleSize)
        df.sample(withReplacement = false, sampleSize.toDouble / total, 42)
      else df
    val ownCache = base.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val sampled = if (ownCache) base.cache() else base
    val cleanup: () => Unit =
      if (ownCache) () => { sampled.unpersist(); () } else () => ()
    val fields = df.schema.fields.filter(f => cols.contains(f.name))
    val stats = new Array[ColStats](fields.length)
    try {
      // ONE scan materializes the bounded sample before the fan-out.
      // Without it, every concurrent column plan's adaptive cache stage
      // submits its own materialization job, and all but one of their tasks
      // hold a core while they wait on the block lock (measured: 2 more
      // jobs and ~40% more task time per call, no faster).
      sampled.count()
      // One SMALL agg per column, run concurrently over the cached sample:
      // a single wide agg across every column is one giant whole-stage-codegen
      // function whose Janino compile costs more than the sample scan itself;
      // per-column plans compile in parallel on the job-submitter threads and
      // each re-scan hits the in-memory bounded sample.
      runConcurrently(fields.indices) { i =>
        stats(i) = columnStats(sampled, fields(i))
      }
    } catch { case e: Throwable => cleanup(); throw e }
    (fields.map(_.name).zip(stats).toMap, sampled, cleanup)
  }

  /** Mean common-word count per cell for one column over the sample
    * (reference: inference_functions.py:169-174). Explode + InSet filter:
    * the token-set membership stays in whole-stage codegen as an O(1) hash
    * probe, and the mean is total matches / non-null cells.
    */
  def nlAvgCommonWords(sampled: DataFrame, colName: String,
                       nonNullCells: Long): Double = {
    if (nonNullCells == 0) return Double.NaN
    val s = LogicalType.replaceNans(col(colName), StringType)
    val matches = sampled
      .select(explode(split(lower(s), nlDelimiters)).as("tok"))
      .where(col("tok").isin(commonWords.toIndexedSeq: _*))
      .count()
    matches.toDouble / nonNullCells
  }

  /** Infer logical types for `cols` (defaults to every column). */
  def inferTypes(df: DataFrame, cols: Seq[String] = Nil,
                 ts: TypeSystem = TypeSystem.global): Map[String, LogicalType] = {
    val target = if (cols.isEmpty) df.columns.toSeq else cols
    val (stats, sampled, cleanup) = collectStatsWithSample(df, target)
    try {
      val first = stats.map { case (n, st) => n -> ts.inferFromStats(st) }
      // deferred learned-datetime pass: a string column whose every non-null
      // value is date-SHAPED but which the fixed format cascade could not
      // parse (e.g. dd.MM.yyyy) gets a bounded driver-side format vote
      // (reference: utils.py:595-650); a winning format re-enters the DAG
      // with dtParseFail=0 and is stored as the Datetime format param so
      // coercion uses it distributedly.
      val learned = stats.collect {
        case (n, st) if st.dataType == StringType && st.nonNullCount > 0 &&
            st.dtParseFail > 0 && st.dateShapeCount == st.nonNullCount &&
            st.dblParseFail == st.nonNullCount =>
          val sampleN = WwConfig.options.datetimeFormatSampleSize
          val s = LogicalType.replaceNans(col(n), StringType)
          val vals = sampled.select(s.as("v")).where(col("v").isNotNull)
            .limit(sampleN).collect().map(_.getString(0)).toSeq
          n -> DatetimeFormat.guessFormat(vals).flatMap { fmt =>
            ts.inferFromStats(stats(n).copy(dtParseFail = 0)) match {
              case _: LogicalType.Datetime =>
                Some(LogicalType.Datetime(datetimeFormat = Some(fmt)))
              case _ => None
            }
          }
      }.collect { case (n, Some(lt)) => n -> (lt: LogicalType) }
      val afterDt = first ++ learned
      // deferred NaturalLanguage pass for unmatched string columns
      val nlCandidates = afterDt.collect {
        case (n, lt) if lt == ts.defaultType && stats(n).dataType == StringType &&
          stats(n).nonNullCount > 0 => n
      }.toSeq
      val avgWords = new Array[Double](nlCandidates.length)
      runConcurrently(nlCandidates.indices) { i =>
        val n = nlCandidates(i)
        avgWords(i) = nlAvgCommonWords(sampled, n, stats(n).nonNullCount)
      }
      afterDt ++ nlCandidates.zip(avgWords).map { case (n, avg) =>
        n -> ts.inferFromStats(stats(n).copy(nlAvgCommonWords = avg))
      }
    } finally cleanup()
  }
}
