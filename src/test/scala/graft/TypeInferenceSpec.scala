package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.config.WwConfig
import graft.infer.TypeInference
import graft.types.ColStats
import graft.types.{LogicalType => LT}

/** Inference parity with the reference's per-type fixtures
  * (reference: woodwork/tests/type_system/test_ltype_inference.py).
  */
class TypeInferenceSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def strDf(values: Seq[String]): DataFrame = {
    import spark.implicits._
    values.toDF("c")
  }
  private def infer(df: DataFrame): String =
    TypeInference.inferTypes(df, Seq("c")).apply("c").name

  test("integers infer Integer (no nulls)") {
    import spark.implicits._
    assert(infer(Seq(1L, 2L, 3L, 4L, 5L).toDF("c")) == "Integer")
  }

  test("integers with nulls infer IntegerNullable") {
    import spark.implicits._
    assert(infer(Seq[Option[Long]](Some(1), None, Some(3)).toDF("c")) == "IntegerNullable")
  }

  test("floats infer Double") {
    import spark.implicits._
    assert(infer(Seq(1.5, 2.7, 3.1).toDF("c")) == "Double")
  }

  test("integral floats with no nulls stay Double (reference rule)") {
    import spark.implicits._
    assert(infer(Seq(1.0, 2.0, 3.0).toDF("c")) == "Double")
  }

  test("integral floats WITH nulls infer IntegerNullable") {
    import spark.implicits._
    assert(infer(Seq[Option[Double]](Some(1.0), None, Some(3.0)).toDF("c")) == "IntegerNullable")
  }

  test("integer strings infer Integer") {
    assert(infer(strDf(Seq("1", "2", "42"))) == "Integer")
  }

  test("float strings infer Double") {
    assert(infer(strDf(Seq("1.5", "2.25", "3"))) == "Double")
  }

  test("yes/no strings infer Boolean; with nulls BooleanNullable") {
    assert(infer(strDf(Seq("yes", "no", "yes"))) == "Boolean")
    assert(infer(strDf(Seq("yes", null, "no"))) == "BooleanNullable")
  }

  test("single boolean token does NOT infer Boolean (exact-set rule)") {
    assert(infer(strDf(Seq("yes", "yes", "yes"))) != "Boolean")
  }

  test("low-cardinality strings infer Categorical") {
    assert(infer(strDf(Seq.fill(50)("a") ++ Seq.fill(50)("b"))) == "Categorical")
  }

  test("emails infer EmailAddress") {
    assert(infer(strDf(Seq("a@b.com", "x.y@z.org", "q+w@e.net"))) == "EmailAddress")
  }

  test("urls infer URL") {
    assert(infer(strDf(Seq("http://a.com/x", "https://b.org/y?z=1"))) == "URL")
  }

  test("ipv4 addresses infer IPAddress") {
    assert(infer(strDf(Seq("1.2.3.4", "255.255.255.0", "10.0.0.1"))) == "IPAddress")
  }

  test("zip codes infer PostalCode") {
    assert(infer(strDf(Seq("12345", "90210-1234", "60601"))) == "PostalCode")
  }

  test("datetime strings infer Datetime") {
    assert(infer(strDf(Seq("2024-01-01", "2024-02-15", "2023-12-31"))) == "Datetime")
  }

  test("prose infers NaturalLanguage via deferred pass") {
    val prose = Seq(
      "the quick brown fox jumps over the lazy dog and runs away",
      "a man and a woman walked to the store with their friends",
      "this is the time of the year when all the people gather",
      "the sound of the water was heard over the hill and far away",
      "every day the children go to school and learn new things about the world",
      "the old house at the end of the street has been there for many years")
    assert(infer(strDf(prose ++ prose ++ prose)) == "NaturalLanguage")
  }

  test("high-cardinality opaque strings infer Unknown") {
    val vals = (1 to 100).map(i => s"zqxv$i-kjhw$i")
    assert(infer(strDf(vals)) == "Unknown")
  }

  test("all-null column infers Unknown") {
    assert(infer(strDf(Seq(null, null, null))) == "Unknown")
  }

  test("null sentinels are nulls for inference") {
    assert(infer(strDf(Seq("N/A", "nan", "<NA>"))) == "Unknown")
  }

  test("custom type registration + removal (registry DAG)") {
    val ts = graft.types.TypeSystem.default()
    assert(ts.registeredTypes.contains("PostalCode"))
    ts.removeType("PostalCode")
    assert(!ts.registeredTypes.contains("PostalCode"))
    ts.resetDefaults()
    assert(ts.registeredTypes.contains("PostalCode"))
    // child re-parenting on removal
    ts.removeType("IntegerNullable")
    assert(!ts.relationships.exists(_._2 == "IntegerNullable"))
    ts.resetDefaults()
  }

  // ---- collapsed stats vs a row-level reference -------------------------

  private val mixedSchema = StructType(Seq(
    StructField("s", StringType), StructField("d", DoubleType),
    StructField("l", LongType), StructField("t", TimestampType)))

  /** One row of every column kind: strings mixing null sentinels, NaN
    * spellings, boolean tokens in any case, integer and float strings,
    * dates and free text; doubles with NaN and both zeros; nullable longs;
    * and a timestamp column (neither string nor numeric).
    */
  private val mixedRow: Gen[Row] = for {
    s <- Gen.oneOf(
      Gen.const(null: String),
      Gen.oneOf("", " ", "N/A", "nan", "NaN", "<NA>", "None", "null"),
      Gen.oneOf("yes", "No", "TRUE", "false", "t", "F", "y", "n"),
      Gen.choose(-999L, 999L).map(_.toString),
      Gen.choose(-1e3, 1e3).map(d => f"$d%.2f"),
      Gen.oneOf("-0.0", "0", "1.0", "1e3"),
      Gen.oneOf("2024-01-02", "01/15/2024", "15.01.2024", "2024-01-02 10:30:00"),
      Gen.oneOf("a@b.com", "http://x.org/y", "10.0.0.1", "90210", "(555) 555-1234"),
      Gen.alphaNumStr.map(_.take(8)))
    d <- Gen.oneOf(Gen.const(null: java.lang.Double),
      Gen.oneOf(Double.NaN, -0.0, 0.0, 1.0, 2.5, -3.0).map(Double.box))
    l <- Gen.oneOf(Gen.const(null: java.lang.Long),
      Gen.choose(-3L, 3L).map(Long.box))
    t <- Gen.oneOf(Gen.const(null: java.sql.Timestamp),
      Gen.choose(0L, 3L).map(h => new java.sql.Timestamp(h * 3600000L)))
  } yield Row(s, d, l, t)

  private def mixedDf(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), mixedSchema)

  /** Row-level reference for one column: every stat counted over the rows
    * of the sample with no grouping (count_distinct for the distinct count),
    * and the boolean tokens read driver-side from the collected values.
    */
  private def rowLevelStats(sample: DataFrame, f: StructField): Map[String, Any] = {
    val v = LT.replaceNans(col(f.name), f.dataType)
    val counted = f.dataType match {
      case StringType | _: NumericType =>
        Seq(count_distinct(v).as("distinctCount")) ++
          TypeInference.predicates(v, f.dataType).map { case (k, p) =>
            coalesce(sum(when(p, 1L)), lit(0L)).as(k)
          }
      case _ => Nil
    }
    val r = sample.agg(count(lit(1)).as("totalCount"),
      counted :+ count(v).as("nonNullCount"): _*).head()
    val longs = r.schema.fieldNames.map(k => k -> (r.getAs[Long](k): Any)).toMap
    if (f.dataType != StringType) longs
    else {
      val values = sample.select(v).collect().flatMap(x => Option(x.getString(0)))
      longs + ("boolTokens" ->
        values.map(_.toLowerCase).toSet.intersect(TypeInference.boolTokenList.toSet))
    }
  }

  private def fieldsOf(st: ColStats): Map[String, Any] =
    st.productElementNames.zip(st.productIterator).toMap

  test("collapsed collectStats equals the row-level aggregate on both sides of the sample bound") {
    val sizes = Gen.oneOf(0, 1, 7, 40, 90)
    val cases = (1 to 6).flatMap { i =>
      val n = sizes.apply(Gen.Parameters.default, Seed(i.toLong)).get
      Gen.listOfN(n, mixedRow).apply(Gen.Parameters.default, Seed(100L + i))
    } :+ Nil // the empty frame, always
    val cols = mixedSchema.fieldNames.toSeq
    for (rows <- cases; bound <- Seq(1000, 25)) {
      val df = mixedDf(rows)
      WwConfig.withOptions(WwConfig.options.copy(inferenceSampleSize = bound)) {
        val stats = TypeInference.collectStats(df, cols)
        val sample =
          if (rows.size > bound) df.sample(withReplacement = false,
            bound.toDouble / rows.size, 42)
          else df
        mixedSchema.fields.foreach { f =>
          val got = fieldsOf(stats(f.name))
          rowLevelStats(sample, f).foreach { case (k, want) =>
            assert(got(k) == want,
              s"${f.name}.$k (rows=${rows.size}, bound=$bound): ${got(k)} != $want")
          }
        }
      }
    }
  }

  test("inferTypes leaves no cached RDD behind on either side of the sample bound") {
    val rows = Gen.listOfN(60, mixedRow)
      .apply(Gen.Parameters.default, Seed(7L)).get
    val df = mixedDf(rows)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (bound <- Seq(1000, 25)) {
      WwConfig.withOptions(WwConfig.options.copy(inferenceSampleSize = bound)) {
        val types = TypeInference.inferTypes(df)
        assert(types.keySet == mixedSchema.fieldNames.toSet)
      }
      assert(spark.sparkContext.getPersistentRDDs.keySet == before,
        s"bound=$bound left a cached RDD")
      assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    }
  }
}
