package pipebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sha2, struct, to_json}
import graft.SparkEntry
import graft.connect.{Connector, ParquetConnector}
import graft.ops.{ExecuteStage, ExtractStage, LoadStage, SqlTransformStage}
import graft.pipeline.Pipeline

/** One request of the closed loop: a pipeline config the client submits. */
final case class Request(kind: String, config: String)

/** What the bench keeps of a finished request for verification. */
final case class Outcome(index: Int, kind: String, ok: Boolean, error: String,
    seconds: Double, cpuSeconds: Double, replay: Seq[Map[String, Any]],
    columns: Seq[String], rows: Seq[Seq[Any]], outDir: String,
    stages: Int = 0, gcMs: Long = 0, written: Seq[String] = Nil)

/** A workload: its seeded request sequence, the connectors a request runs
  * against, and how its outputs are checked.
  */
abstract class Workload(val name: String, val dataDir: String, val workDir: String) {

  /** The request kind whose median latency is `request_p50_s`. */
  def primaryKind: String

  /** The kind that ends in a Load; its median latency is `refresh_s`. */
  def writeKind: String

  /** Requests in one repetition of the mix; a measured phase is whole cycles. */
  def cycle: Int

  /** The `i`-th request of the sequence; `i` counts from 0 in each phase. */
  def request(i: Int): Request

  /** Named connectors for request `i` (sinks get a directory per request). */
  def connectors(i: Int): Map[String, (Connector, String)]

  /** Whether the client collects the final view (lookups and refreshes);
    * otherwise the pipeline ends in a Load and its output is that table.
    */
  def collects(kind: String): Boolean

  /** Check the Loaded outputs of `outcomes`; returns failed indices with a
    * reason. Collected results are checked by DuckDB in `verify.py`.
    */
  def verifyInJvm(spark: SparkSession, outcomes: Seq[Outcome]): Map[Int, String] = Map.empty

  /** Untimed work after the first request, before warm-up. */
  def prepare(spark: SparkSession): Unit = ()

  /** Damage one request's output so verification must fail. */
  def corrupt(spark: SparkSession, o: Outcome): Outcome

  /** Where request `i`'s sink writes. */
  def outDir(i: Int) = s"$workDir/out/r$i"
}

object Workloads {
  def apply(name: String, dataDir: String, workDir: String, seed: Long,
      repoRoot: String): Workload = name match {
    case "etl_mix" => new EtlMix(dataDir, workDir, seed)
    case "curate_dedup" => new CurateDedup(dataDir, workDir, repoRoot)
    case "graph_fixpoint" => new GraphFixpoint(dataDir, workDir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** FIXTURES §3 comparator, collected: the multiset of sha2-512 row
    * hashes over `to_json(struct(sorted columns))`. Two frames are equal
    * when these maps are (outputs here are a few thousand rows).
    */
  def hashCounts(df: DataFrame): Map[String, Long] = {
    val cols = df.columns.sorted.toSeq
    df.select(sha2(to_json(struct(cols.map(col): _*)), 512).as("h"))
      .groupBy("h").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** The DuckDB replay of a parsed pipeline: Extract -> view over the
    * table's files, Execute -> statement, SqlTransform -> view, Load ->
    * the table it writes. Read from the stages after they ran.
    */
  def replay(p: Pipeline, dirs: Map[Connector, String]): Seq[Map[String, Any]] =
    p.stages.map(_.stage).collect {
      case s: ExtractStage =>
        Map("op" -> "extract", "view" -> s.outputView, "path" -> s"${dirs(s.connector)}/${s.table}.parquet")
      case s: ExecuteStage => Map("op" -> "execute", "sql" -> s.detail("sql"))
      case s: SqlTransformStage => Map("op" -> "sql", "view" -> s.outputView, "sql" -> s.detail("sql"))
      case s: LoadStage =>
        Map("op" -> "load", "view" -> s.inputView, "path" -> s"${dirs(s.connector)}/${s.table}.parquet")
    }
}

/** Star-schema lookups against the fact table the last refresh wrote, with
  * a refresh every `RefreshEvery`-th request.
  */
final class EtlMix(dataDir: String, workDir: String, seed: Long)
    extends Workload("etl_mix", dataDir, workDir) {
  val RefreshEvery = 5
  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val whDir = s"$workDir/wh"

  def primaryKind = "lookup"
  def writeKind = "refresh"
  def cycle = RefreshEvery
  def collects(kind: String) = true

  // lookups and refreshes differ per request only in seeded parameters
  private def params(i: Int): (Int, String) = {
    val r = new scala.util.Random(seed * 1000003L + i)
    (1995 + r.nextInt(7), Regions(r.nextInt(Regions.size)))
  }

  def request(i: Int): Request =
    if (i % RefreshEvery == 0) Request("refresh", EtlMix.Refresh)
    else {
      val (year, region) = params(i)
      Request("lookup", EtlMix.Lookup
        .replace("@YEAR@", year.toString).replace("@REGION@", region))
    }

  def connectors(i: Int) = Map(
    "source" -> (new ParquetConnector(dataDir), dataDir),
    "wh" -> (new ParquetConnector(whDir), whDir))

  def corrupt(spark: SparkSession, o: Outcome): Outcome =
    o.copy(rows = o.rows.zipWithIndex.map {
      case (row, 0) => row.map {
        case d: Double => d + 1.0
        case l: Long => l + 1
        case v => v
      }
      case (row, _) => row
    })
}

object EtlMix {
  private val Dim = (table: String, view: String) =>
    s"""{ type = Extract, name = "$table", connection = source
      |  table = $table, outputView = $view }""".stripMargin

  // ${...} are SqlParams placeholders; @...@ are filled per request
  val Lookup: String =
    s"""stages = [
      |{ type = Extract, name = "fact", connection = wh
      |  table = sales, outputView = lk_sales }
      |${Dim("customer", "lk_customer")}
      |${Dim("part", "lk_part")}
      |{ type = SqlTransform, name = "lookup"
      |  sql = \"\"\"SELECT c.c_mktsegment AS segment, p.p_type AS part_type,
      |      COUNT(*) AS n_lines, CAST(SUM(s.revenue) AS DOUBLE) AS revenue
      |    FROM lk_sales s
      |    JOIN lk_customer c ON s.o_custkey = c.c_custkey
      |    JOIN lk_part p ON s.l_partkey = p.p_partkey
      |    WHERE s.ship_year = $${year} AND s.r_name = '$${region}'
      |    GROUP BY c.c_mktsegment, p.p_type\"\"\"
      |  sqlParams { year = "@YEAR@", region = "@REGION@" }
      |  outputView = lk_result }
      |]""".stripMargin

  val Refresh: String =
    s"""stages = [
      |${Dim("lineitem", "rf_lineitem")}
      |${Dim("orders", "rf_orders")}
      |${Dim("customer", "rf_customer")}
      |${Dim("nation", "rf_nation")}
      |${Dim("region", "rf_region")}
      |{ type = Execute, name = "customer dimension", connection = source
      |  sql = \"\"\"CREATE OR REPLACE TEMPORARY VIEW rf_custdim AS
      |    SELECT c.c_custkey, n.n_name, r.r_name
      |    FROM rf_customer c
      |    JOIN rf_nation n ON c.c_nationkey = n.n_nationkey
      |    JOIN rf_region r ON n.n_regionkey = r.r_regionkey\"\"\" }
      |{ type = SqlTransform, name = "enrich"
      |  sql = \"\"\"SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, o.o_custkey,
      |      d.n_name, d.r_name,
      |      CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
      |        * CAST(1 - l.l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4)) AS revenue,
      |      year(l.l_shipdate) AS ship_year
      |    FROM rf_lineitem l
      |    JOIN rf_orders o ON l.l_orderkey = o.o_orderkey
      |    JOIN rf_custdim d ON o.o_custkey = d.c_custkey
      |    WHERE o.o_orderstatus IN ('F', 'O')\"\"\"
      |  outputView = rf_sales }
      |{ type = Load, name = "publish", connection = wh
      |  inputView = rf_sales, table = sales, saveMode = Overwrite
      |  params { "confirm.truncate" = "true", "disk.partitionBy" = "ship_year" } }
      |{ type = Extract, name = "re-read", connection = wh
      |  table = sales, outputView = rf_check }
      |{ type = SqlTransform, name = "summary"
      |  sql = \"\"\"SELECT ship_year, r_name, COUNT(*) AS n_lines,
      |      CAST(SUM(revenue) AS DOUBLE) AS revenue
      |    FROM rf_check GROUP BY ship_year, r_name\"\"\"
      |  outputView = rf_summary }
      |]""".stripMargin
}

/** Workloads whose every request is one full pipeline ending in Load; the
  * Loaded tables must equal the gate queries' direct-API twins.
  */
abstract class LoadPipeline(name: String, dataDir: String, workDir: String)
    extends Workload(name, dataDir, workDir) {
  def primaryKind = "pipeline"
  def writeKind = "pipeline"
  def cycle = 1
  def collects(kind: String) = false

  def config: String

  /** The table the pipeline Loads, the gate query that is its direct-API
    * twin, and the columns compared.
    */
  def table: String
  def gate: String
  def columns: Seq[String]

  def request(i: Int) = Request("pipeline", config)

  def connectors(i: Int) = Map(
    "source" -> (new ParquetConnector(dataDir), dataDir),
    "sink" -> (new ParquetConnector(outDir(i)), outDir(i)))

  private var twin = Map.empty[String, Long]

  /** Row-hash counts of the output's direct-API twin (run once, untimed). */
  override def prepare(spark: SparkSession): Unit =
    twin = Workloads.hashCounts(SparkEntry.queries(gate)(spark, dataDir).select(columns.map(col): _*))

  override def verifyInJvm(spark: SparkSession, outcomes: Seq[Outcome]): Map[Int, String] =
    outcomes.filter(_.ok).flatMap { o =>
      val same =
        try Workloads.hashCounts(
          spark.read.parquet(s"${o.outDir}/$table.parquet").select(columns.map(col): _*)) == twin
        catch { case _: Exception => false }
      if (same) None else Some(o.index -> s"$table differs from its twin $gate")
    }.toMap

  /** Rewrite the output table with one row dropped. */
  def corrupt(spark: SparkSession, o: Outcome): Outcome = {
    val path = s"${o.outDir}/$table.parquet"
    val df = spark.read.parquet(path)
    val kept = df.limit(math.max(0, df.count().toInt - 1)).collect()
    spark.createDataFrame(java.util.Arrays.asList(kept: _*), df.schema)
      .write.mode("overwrite").parquet(path + ".corrupt")
    Files.deleteTree(path)
    new java.io.File(path + ".corrupt").renameTo(new java.io.File(path))
    o
  }
}

/** `examples/curate.conf` verbatim over a generated documents corpus. */
final class CurateDedup(dataDir: String, workDir: String, repoRoot: String)
    extends LoadPipeline("curate_dedup", dataDir, workDir) {
  val config: String = {
    val src = scala.io.Source.fromFile(s"$repoRoot/examples/curate.conf", "UTF-8")
    try src.mkString finally src.close()
  }
  val table = "curated_documents"
  val gate = "curate_pretrain"
  val columns = Seq("doc_id", "lang", "n_tokens", "score", "rank")
}

/** The forward half of the stage_graph_chain edge SQL (supplier -> customer
  * on high-quantity lines: the graph_cc gate's edges), GraphTransform `cc`
  * over it, and a Load of the labels.
  */
final class GraphFixpoint(dataDir: String, workDir: String)
    extends LoadPipeline("graph_fixpoint", dataDir, workDir) {
  val config: String =
    s"""stages = [
      |{ type = Extract, name = lineitem, connection = source
      |  table = lineitem, outputView = gf_lineitem }
      |{ type = Extract, name = orders, connection = source
      |  table = orders, outputView = gf_orders }
      |{ type = SqlTransform, name = edges
      |  sql = \"\"\"SELECT DISTINCT concat('s', CAST(l_suppkey AS STRING)) AS src,
      |        concat('c', CAST(o_custkey AS STRING)) AS dst
      |      FROM gf_lineitem l JOIN gf_orders o ON l.l_orderkey = o.o_orderkey
      |      WHERE l.l_quantity >= 49\"\"\"
      |  outputView = gf_edges }
      |{ type = GraphTransform, name = components, method = cc
      |  inputView = gf_edges, outputView = gf_cc }
      |{ type = Load, name = "publish components", connection = sink
      |  inputView = gf_cc, table = graph_cc, saveMode = Overwrite
      |  params { "confirm.truncate" = "true" } }
      |]""".stripMargin

  val table = "graph_cc"
  val gate = "graph_cc"
  val columns = Seq("node", "component")
}
