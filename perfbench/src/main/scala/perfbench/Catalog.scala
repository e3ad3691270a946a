package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.engine.Tables

/** The three catalog workloads: single-shot queries from the engine's
  * catalog, run closed-loop by one client, each pass in a seeded order.
  *
  * An op builds the query's DataFrame (`queries.build`: any eager job the
  * query runs while building lands here) and writes it to the `noop` sink
  * (`write.noop`). The write carries an observation that counts the rows
  * and sums a per-row hash, so every execution is checked against the
  * stored expectation without a second job. */
object Catalog {

  /** The fixed subsets a run measures (see perfbench/README.md for why
    * each was chosen); `--queries full` runs a workload's whole families. */
  val subsets: Map[String, Seq[String]] = Map(
    "relational" -> Seq(
      "agg_weighted_median", "agg_percentile_exact", "q1_agg", "q8_market_share"),
    "iterative" -> Seq(
      "graph_bfs_layers", "graph_louvain_converged", "graph_lpa_communities",
      "sim_hnsw_levels", "sim_beam_sweep", "sim_index_insert", "sim_nndescent"),
    "text_dedup" -> Seq("tx_bpe_encode", "dd_minhash_sig"))

  private val relationalFaces = Set(
    "agg", "ts", "sketch", "set", "sub", "opt", "skew", "range", "asof", "bj",
    "pp", "arr", "sql", "funnel", "cohort", "json", "nested", "layout", "src",
    "pipe")

  /** Every catalog query of a workload's families. */
  def full(workload: String): Seq[String] = {
    val family: String => Boolean = workload match {
      case "relational" => n => {
        val head = n.takeWhile(_ != '_')
        relationalFaces(head) || head.matches("[qfjwpao][0-9]+")
      }
      case "iterative" => n => n.startsWith("graph_") || n.startsWith("sim_")
      case "text_dedup" => n => n.startsWith("tx_") || n.startsWith("dd_")
    }
    SparkEntry.queries.keys.filter(family).toSeq.sorted
  }

  /** A map nested anywhere makes a column unhashable. */
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  /** `df` with an observation of its row count and the sum of a 64-bit
    * hash of each row: an order-insensitive fingerprint of the result.
    * Columns are addressed by position, so duplicate names do no harm;
    * a column holding a map is hashed through its JSON form. */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    val n = df.schema.length
    val renamed = df.toDF((0 until n).map(i => s"c$i"): _*)
    val cols: Seq[Column] = renamed.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    (renamed.observe(obs, count(lit(1)).as("rows"),
      sum(h.cast(DecimalType(38, 0))).as("hash")), obs)
  }

  /** Run one op: build, write with the observation, read the fingerprint. */
  def runOp(spark: SparkSession, sfDir: String, name: String, tracer: Tracer): OpResult = {
    val t0 = System.nanoTime()
    val df = tracer.span("queries.build")(SparkEntry.queries(name)(spark, sfDir))
    val t1 = System.nanoTime()
    val (out, obs) = observed(df)
    val fp = tracer.span("write.noop") {
      out.write.format("noop").mode("overwrite").save()
      obs.get
    }
    val t2 = System.nanoTime()
    val hash = Option(fp("hash")).map(_.toString).getOrElse("null")
    OpResult(name, latency = (t2 - t0) / 1e9, write = (t2 - t1) / 1e9, op = (t2 - t0) / 1e9,
      fields = Seq("build_s" -> (t1 - t0) / 1e9, "rows" -> fp("rows").toString.toLong,
        "hash" -> hash))
  }

  /** The per-layer probe of `Tables.load`: one direct call per table, each
    * under its own span. */
  def loadTables(spark: SparkSession, sfDir: String, tracer: Tracer): Unit =
    Tables.names.filter(t => new java.io.File(sfDir, s"$t.parquet").exists()).foreach { t =>
      tracer.span("engine.Tables.load", "table" -> t)(Tables.load(spark, sfDir, t))
    }
}
