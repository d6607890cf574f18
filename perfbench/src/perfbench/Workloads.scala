package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One pipeline run of a workload. The benchmark times `PipelineSpec.parse`
  * + `Engine.run` + `finish` (the terminal action, when the loader does
  * not act itself), then calls `check` untimed. */
final case class Op(template: String, json: String, rows: Long,
                    finish: DataFrame => Seq[Long], check: Seq[Long] => Option[String])

object Op {
  def count(df: DataFrame): Seq[Long] = Seq(df.count())
  def nothing(df: DataFrame): Seq[Long] = Nil
  def expect(what: String, want: Seq[Long])(got: Seq[Long]): Option[String] =
    if (got == want) None else Some(s"$what: expected ${want.mkString(",")}, got ${got.mkString(",")}")
}

/** A workload: seeded inputs under `dir`, then a closed loop of [[Op]]s. */
trait Workload {
  def name: String
  /** Write this seed's input files; plain JVM code, no Spark. */
  def generate(dir: File, seed: Long): Unit
  /** Generate, then build whatever state the ops start from. */
  def setup(spark: SparkSession, dir: File, seed: Long): Unit = generate(dir, seed)
  /** Untimed operations run once at the end of each set-up. */
  def warmup: Seq[Op]
  def op(i: Int): Op
  /** Upper bound on one op's wall time; longer counts as a failure. */
  def timeoutS: Int
  /** Files the loader left behind (0 for the memory loader). */
  def outputFiles(): Long = 0L
  /** Candidate near-duplicate pairs and how many of them were planted. */
  def pairs(spark: SparkSession): (Long, Long) = (0L, 0L)
}

object Workloads {
  /** The workloads BENCHMARK.json schedules. */
  val scheduled: Seq[String] = Seq("ingest_upsert", "graph_fixpoint", "text_dedup")
  /** config_burst runs on request only: four workloads at 22 runs each do
    * not fit the benchmark's time budget (see perfbench/README.md). */
  val all: Seq[String] = scheduled :+ "config_burst"

  def apply(name: String): Workload = name match {
    case "ingest_upsert" => new IngestUpsert
    case "config_burst" => new ConfigBurst
    case "graph_fixpoint" => new GraphFixpoint
    case "text_dedup" => new TextDedup
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def q(f: File): String = f.getAbsolutePath

  private def run(spark: SparkSession, json: String): DataFrame =
    graft.engine.Engine.runJson(new graft.engine.EtlContext(spark), json)

  // ------------------------------------------------------------------

  /** csv typed -> two field expressions -> flow skip -> link (broadcast
    * dimension) -> merge (dimension above the broadcast budget) -> parquet
    * upsert into a table built during set-up, from base rows loaded before
    * the product catalogue existed (an empty products file). */
  final class IngestUpsert extends Workload {
    val name = "ingest_upsert"
    val timeoutS = 60
    val size = Gen.IngestSize(customers = 20000, products = 1000000, descWords = 5,
      baseRows = 50000, batchRows = 40000, batches = 4)
    private var data: Gen.Ingest = _
    private var target: File = _
    private val table = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    private var tableSum = 0L
    private var spark: SparkSession = _

    val checksumSql: String = "sum(crc32(concat_ws('|', id, qty, amount_cents, channel_uc, " +
      "coalesce(cast(cust_link as string), '-'), coalesce(category, '-'), " +
      "coalesce(cast(list_price as string), '-'))))"

    private def config(batch: File, products: File): String = s"""{
      "begin": [{"console": {"commands": [
        "CREATE OR REPLACE TEMPORARY VIEW customers (cust_id INT, cust_name STRING, segment STRING) USING csv OPTIONS (path '${q(data.customers)}', header 'true')",
        "CREATE OR REPLACE TEMPORARY VIEW products (prod_id INT, prod_name STRING, category STRING, list_price INT, description STRING) USING csv OPTIONS (path '${q(products)}', header 'true')"]}}],
      "source": {"file": {"path": "${q(batch)}"}},
      "extractor": {"row": {}},
      "transformers": [
        {"csv": {"columns": ["id:long", "cust_id:integer", "prod_id:integer", "qty:integer", "unit_cents:integer", "channel:string"]}},
        {"field": {"fieldName": "amount_cents", "expression": "qty * unit_cents"}},
        {"field": {"fieldName": "channel_uc", "expression": "channel.toUpperCase()"}},
        {"flow": {"operation": "skip", "if": "qty = 0"}},
        {"link": {"joinFieldName": "cust_id", "lookup": "customers.cust_id", "linkFieldName": "cust_link", "unresolvedLinkAction": "NOTHING"}},
        {"merge": {"joinFieldName": "prod_id", "lookup": "products.prod_id", "unresolvedLinkAction": "NOTHING"}}],
      "loader": {"parquet": {"path": "${q(target)}", "mode": "upsert", "key": "id"}}
    }"""

    private def apply(b: Gen.IngestBatch): Unit = b.expected.foreach { case (id, c) =>
      val old = table.put(id, c)
      tableSum += c - (if (old == null) 0L else old.longValue)
    }

    private def batchOp(b: Gen.IngestBatch): Op =
      Op("upsert", config(b.file, data.products), b.rows, Op.nothing,
      _ => {
        apply(b)
        val r = spark.read.parquet(q(target)).selectExpr("count(*)", checksumSql).head()
        Op.expect("upserted rows, checksum", Seq(table.size.toLong, tableSum))(
          Seq(r.getLong(0), r.getLong(1)))
      })

    def generate(dir: File, seed: Long): Unit = {
      data = Gen.ingest(dir, seed, size)
      target = new File(dir, "target")
    }
    override def setup(spark: SparkSession, dir: File, seed: Long): Unit = {
      this.spark = spark
      generate(dir, seed)
      table.clear(); tableSum = 0L
      run(spark, config(data.base.file, data.noProducts))
      apply(data.base)
    }
    def warmup: Seq[Op] = Seq(batchOp(data.batches.head))
    def op(i: Int): Op = batchOp(data.batches((i + 1) % data.batches.size))
    override def outputFiles(): Long =
      Option(target.listFiles()).getOrElse(Array.empty[File]).count(_.getName.endsWith(".parquet")).toLong
  }

  // ------------------------------------------------------------------

  /** Hundreds of small configs, each on a fresh EtlContext with the memory
    * loader + count(): a seeded mix of eight templates whose literals come
    * either from a small set (plans repeat) or a wide range (plans differ). */
  final class ConfigBurst extends Workload {
    val name = "config_burst"
    val timeoutS = 30
    private var data: Gen.Burst = _
    private var parquet: File = _
    private var seed = 0L

    private val templates = Array("csv_field_flow", "parquet_command", "link", "merge",
      "vertex_edge", "let_console", "json", "field_rename")
    private val Repeating = Array(100, 250, 500, 750)

    private def csvCols = """["id:integer", "grp:integer", "v:integer", "name:string"]"""
    private def groupsView = s""""begin": [{"console": {"commands": ["CREATE OR REPLACE TEMPORARY VIEW groups (grp INT, grp_name STRING, weight INT) USING csv OPTIONS (path '${q(data.groupsCsv)}', header 'true')"]}}],"""
    private def csvSource = s""""source": {"file": {"path": "${q(data.csv)}"}}, "extractor": {"row": {}},"""
    private val memory = """"loader": {"memory": {"name": "burst_out"}}"""

    private def countWhere(p: Gen.Item => Boolean): Long = data.items.count(p).toLong

    def op(i: Int): Op = {
      val rng = new Rng(seed * 1000003L + i)
      val t = rng.nextInt(templates.length)
      // even templates draw from four literals, odd ones from 999
      val lit = if (t % 2 == 0) Repeating(rng.nextInt(Repeating.length)) else 1 + rng.nextInt(999)
      val g = data.groups
      val (json, want) = t match {
        case 0 => (s"""{ $csvSource "transformers": [{"csv": {"columns": $csvCols}},
              {"field": {"fieldName": "v2", "expression": "v * ${lit % 7 + 2}"}},
              {"flow": {"operation": "skip", "if": "v < $lit"}}], $memory }""",
          countWhere(_.v >= lit))
        case 1 => (s"""{ "source": {"file": {"path": "${q(parquet)}"}}, "extractor": {"parquet": {}},
              "transformers": [{"command": {"command": "SELECT grp, count(*) AS n, sum(v) AS s FROM input WHERE v >= $lit GROUP BY grp"}}],
              $memory }""",
          data.items.filter(_.v >= lit).map(_.grp).distinct.size.toLong)
        case 2 => (s"""{ $groupsView $csvSource "transformers": [{"csv": {"columns": $csvCols}},
              {"flow": {"operation": "skip", "if": "v < $lit"}},
              {"link": {"joinFieldName": "grp", "lookup": "groups.grp", "linkFieldName": "g", "unresolvedLinkAction": "SKIP"}}],
              $memory }""",
          countWhere(it => it.v >= lit && it.grp < g))
        case 3 => (s"""{ $groupsView $csvSource "transformers": [{"csv": {"columns": $csvCols}},
              {"flow": {"operation": "skip", "if": "v > $lit"}},
              {"merge": {"joinFieldName": "grp", "lookup": "groups.grp", "unresolvedLinkAction": "SKIP"}}],
              $memory }""",
          countWhere(it => it.v <= lit && it.grp < g))
        case 4 => (s"""{ $groupsView $csvSource "transformers": [{"csv": {"columns": $csvCols}},
              {"flow": {"operation": "skip", "if": "v < $lit"}},
              {"vertex": {"class": "Item", "idField": "id"}},
              {"edge": {"class": "InGroup", "joinFieldName": "grp", "lookup": "groups.grp", "unresolvedLinkAction": "SKIP"}}],
              $memory }""",
          countWhere(_.v >= lit))
        case 5 => (s"""{ "begin": [{"let": {"name": "cut", "expression": "$lit + 0"}},
                {"console": {"commands": ["CREATE OR REPLACE TEMPORARY VIEW burst_cut AS SELECT $lit AS cut"]}}],
              $csvSource "transformers": [{"csv": {"columns": $csvCols}},
              {"flow": {"operation": "skip", "if": "v < $$cut"}}], $memory }""",
          countWhere(_.v >= lit))
        case 6 => (s"""{ "source": {"file": {"path": "${q(data.json)}"}}, "extractor": {"json": {}},
              "transformers": [{"field": {"fieldName": "tag", "expression": "name.toUpperCase()"}},
              {"flow": {"operation": "skip", "if": "v < $lit"}}], $memory }""",
          countWhere(_.v >= lit))
        case _ => (s"""{ "source": {"file": {"path": "${q(data.csv)}"}}, "extractor": {"csv": {"columns": $csvCols}},
              "transformers": [{"field": {"fieldName": "v", "expression": "0", "if": "v < $lit"}},
              {"rename": {"name": "label"}},
              {"flow": {"operation": "skip", "if": "v = 0"}}], $memory }""",
          countWhere(it => it.v >= lit && it.v != 0))
      }
      Op(templates(t), json, data.items.size.toLong, Op.count,
        Op.expect(s"${templates(t)} count", Seq(want)))
    }

    def generate(dir: File, seed: Long): Unit = {
      this.seed = seed
      data = Gen.burst(dir, seed, rows = 800, groups = 40)
      parquet = new File(dir, "items.parquet")
    }
    override def setup(spark: SparkSession, dir: File, seed: Long): Unit = {
      generate(dir, seed)
      run(spark, s"""{ $csvSource "transformers": [{"csv": {"columns": $csvCols}}],
        "loader": {"parquet": {"path": "${q(parquet)}"}} }""")
    }
    // one op of every template, so each plan shape has run once
    def warmup: Seq[Op] = Iterator.from(-100000, -1).map(op)
      .scanLeft(Set.empty[String] -> Option.empty[Op]) { case ((seen, _), o) =>
        if (seen(o.template)) (seen, None) else (seen + o.template, Some(o)) }
      .flatMap(_._2).take(templates.length).toSeq
  }

  // ------------------------------------------------------------------

  /** vertex -> edge -> connectedcomponents over planted chains of up to 32
    * vertices. `localFinishEdges` sits far below the edge count so the
    * distributed pointer-jumping rounds run, as they do by default above
    * 200k contracted edges. */
  final class GraphFixpoint extends Workload {
    val name = "graph_fixpoint"
    val timeoutS = 100
    val chains = Seq(2, 3, 4, 6, 8, 12, 16, 24, 32)
    private var g: Gen.Graph = _
    private var warm: Gen.Graph = _

    private def config(gr: Gen.Graph, localFinishEdges: Int): String = s"""{
      "begin": [{"console": {"commands": ["CREATE OR REPLACE TEMPORARY VIEW graph_vertices (vid STRING) USING csv OPTIONS (path '${q(gr.vertices)}', header 'true')"]}}],
      "source": {"file": {"path": "${q(gr.edges)}"}}, "extractor": {"row": {}},
      "transformers": [{"csv": {"columns": ["src:string", "dst:string"]}},
        {"flow": {"operation": "skip", "if": "src = dst"}},
        {"vertex": {"class": "Node", "idField": "src"}},
        {"edge": {"class": "Link", "joinFieldName": "dst", "lookup": "graph_vertices.vid"}},
        {"connectedcomponents": {"maxIter": 40, "localFinishEdges": $localFinishEdges}}],
      "loader": {"memory": {"name": "components"}}
    }"""

    private def ccOp(gr: Gen.Graph, localFinishEdges: Int): Op =
      Op("components", config(gr, localFinishEdges), gr.nEdges,
      df => {
        val r = df.selectExpr("count(*)", "count(distinct component)",
          "sum(crc32(concat(id, '>', component)))").head()
        Seq(r.getLong(0), r.getLong(1), r.getLong(2))
      },
      Op.expect("vertices, components, label checksum",
        Seq(gr.nVertices, gr.nComponents, gr.labelSum)))

    def generate(dir: File, seed: Long): Unit = {
      g = Gen.graph(dir, seed, targetEdges = 20000, chains)
      // the warm-up graph is small and shallow: it compiles the same code
      // paths, the distributed rounds included, without paying for deep chains
      warm = Gen.graph(new File(dir, "warm"), seed + 1, targetEdges = 1500, Seq(2, 4, 8))
    }
    def warmup: Seq[Op] = Seq(ccOp(warm, localFinishEdges = 100))
    def op(i: Int): Op = ccOp(g, localFinishEdges = 2000)
  }

  // ------------------------------------------------------------------

  /** normalizetext -> neardupdedup (banded MinHash LSH) over a Zipf-token
    * corpus with 1% planted near-duplicate pairs. */
  final class TextDedup extends Workload {
    val name = "text_dedup"
    val timeoutS = 60
    private var t: Gen.Text = _

    def dedupOptions = """"idField": "doc_id", "field": "text", "shingleSize": 3, "numHashes": 64, "bands": 16, "threshold": 0.5"""

    def config(pairStage: String, t: Gen.Text): String = s"""{
      "source": {"file": {"path": "${q(t.docs)}"}}, "extractor": {"row": {}},
      "transformers": [{"csv": {"columns": ["doc_id:long", "text:string"]}},
        {"flow": {"operation": "skip", "if": "text is null"}},
        {"normalizetext": {"field": "text", "form": "NFC", "lower": true}},
        {"$pairStage": {$dedupOptions}}],
      "loader": {"memory": {"name": "kept"}}
    }"""

    private def dedupOp(t: Gen.Text): Op = Op("neardup", config("neardupdedup", t), t.nDocs,
      df => {
        val r = df.selectExpr("count(*)", "sum(doc_id)", "sum(crc32(cast(doc_id as string)))").head()
        Seq(r.getLong(0), r.getLong(1), r.getLong(2))
      },
      Op.expect("keepers, id sum, id checksum", Seq(t.keepers, t.keeperIdSum, t.keeperCrcSum)))

    /** (pairs, planted pairs among them); planted are (id-1, id), id % 100 == 1. */
    private def plantedPairs(pairs: DataFrame): (Long, Long) = {
      val r = pairs.selectExpr("count(*)",
        "coalesce(sum(CASE WHEN b = a + 1 AND b % 100 = 1 THEN 1 ELSE 0 END), 0)").head()
      (r.getLong(0), r.getLong(1))
    }
    def generate(dir: File, seed: Long): Unit = {
      t = Gen.text(dir, seed, nDocs = 14000, vocab = 10000)
    }
    override def pairs(spark: SparkSession): (Long, Long) =
      plantedPairs(run(spark, config("minhash", t)))
    // full size: the first few pipelines still compile code (C2, codegen)
    def warmup: Seq[Op] = Seq(dedupOp(t))
    def op(i: Int): Op = dedupOp(t)
  }
}
