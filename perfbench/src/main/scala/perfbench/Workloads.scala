package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.frame.WoodworkFrame
import graft.io.{ReadWrite, ShardWriter}
import graft.ops
import graft.stats.{Describe, ValueCounts}
import graft.types.LogicalType

/** The benchmark's call sequences. A call that names an oracle mirrors
  * that query of `graft.Queries` exactly (same arguments, same output
  * projection), so its result is compared with the query's DuckDB oracle
  * over the same generated tables; every other call is checked by its
  * fingerprint.
  */
object Workloads {
  def apply(name: String, inject: Set[String]): Workload = {
    val base: Workload = name match {
      case "profile" => Profile
      case "curate_x10" => Curate
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (inject.isEmpty) base
    else new Workload {
      def pass(p: Pass): Unit = {
        base.pass(p)
        Injected.pass(p, inject)
      }
    }
  }

  /** One woodwork session over `orders`: type it, reshape it and profile
    * it. The input is tiny, so the time is driver work: eager jobs,
    * planning and the gaps between jobs. */
  object Profile extends Workload {
    def pass(p: Pass): Unit = {
      val ord = p.frame("infer", "init") {
        WoodworkFrame.init(p.table("orders").drop("o_orderdate"),
          index = Some("o_orderkey"))
      }
      p.df("frame", "select.rename", "q11_select_rename") {
        ord.select(include = Seq("numeric"))
          .rename(Map("o_orderkey" -> "order_id", "o_totalprice" -> "total_price"))
          .df.orderBy("order_id")
      }
      p.frame("frame", "setTypes") {
        ord.setTypes(Map("o_custkey" -> LogicalType.Categorical))
      }
      p.frame("frame", "iloc") { ord.iloc(100, 1100) }
      p.frame("frame", "loc") { ord.loc(1000L) }
      p.frame("frame", "concatColumns") {
        WoodworkFrame.concatColumns(Seq(ord(Seq("o_orderkey", "o_custkey")),
          ord(Seq("o_orderkey", "o_totalprice", "o_orderstatus"))))
      }
      p.df("stats", "describe") {
        Injected.drift(p,
          Describe.describe(ord(Seq("o_orderstatus", "o_totalprice"))))
      }
      p.df("stats", "valueCounts", "q03_value_counts_orders") {
        ValueCounts.valueCounts(ord, topN = 5)
          .withColumn("rn", col("rn").cast(LongType))
          .orderBy("column_name", "rn")
      }
    }
  }

  /** A release pipeline over a replicated corpus: identify the language,
    * apply the quality rules, remove near-duplicate clusters, then write
    * the normalized text as shards and as a typed release. */
  object Curate extends Workload {
    def pass(p: Pass): Unit = {
      val docs = p.table("documents")
      p.df("ops", "langId", "q24_lang_id") {
        docs.groupBy(ops.TextAnalysis.langId(col("text")).as("lang_pred"))
          .agg(count(lit(1)).as("cnt")).orderBy("lang_pred")
      }
      p.df("ops", "gopherRules", "q66_gopher_rules") {
        ops.TextAnalysis.gopherRules(docs, "doc_id", "text").orderBy("id")
      }
      p.df("ops", "deduplicate") {
        ops.Dedup.deduplicate(docs, "doc_id", "text", threshold = 0.6)
          .select("doc_id", "source", "n_chars").orderBy("doc_id")
      }
      val release = WoodworkFrame.init(
        docs.select(col("doc_id"), col("source"),
          ops.TextAnalysis.normalizeText(col("text")).as("text")),
        logicalTypes = Map("doc_id" -> LogicalType.Integer,
          "source" -> LogicalType.Categorical,
          "text" -> LogicalType.NaturalLanguage))
      p.write("io", "writeShards", "shards", dir => p.spark.read.parquet(dir)) {
        dir => ShardWriter.writeShards(release.df, dir, numShards = 8, "doc_id")
      }
      p.write("io", "toDisk", "release",
        dir => ReadWrite.fromDisk(p.spark, dir).df) { dir =>
        ReadWrite.toDisk(release, dir)
      }
    }
  }

  /** Deliberate faults for the benchmark's own test: `throw` adds a call
    * that throws, `wrong` a call whose output disagrees with its oracle
    * (on the `profile` workload, which has the orders table), and `drift`
    * alters the output of `stats.describe`, a call without an oracle, in
    * every pass alike. */
  object Injected {
    def drift(p: Pass, d: DataFrame): DataFrame =
      if (p.injected("drift")) d.withColumn("injected_drift", lit(1)) else d

    def pass(p: Pass, inject: Set[String]): Unit = {
      if (inject("throw"))
        p.df("stats", "injected.throw") {
          throw new IllegalStateException("injected failure")
        }
      if (inject("wrong"))
        p.df("frame", "injected.wrong", "q11_select_rename") {
          p.table("orders").select(col("o_orderkey").as("order_id"),
            col("o_custkey"), (col("o_totalprice") + 1).as("total_price"))
        }
    }
  }
}
