package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{QueryMemos, SparkEntry, Tables}
import graft.pipeline.SeoulPipeline
import graft.sources.{Audit, CatalogSchema, Ingest, Jdbc, SchemaInfer}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** JVM side of the benchmark: sets up, runs one workload's passes as a
  * single closed-loop client, dumps what the output checks need, and
  * writes everything it measured to `<run>/result.json`.
  *
  * A run sets up `setups` times, makes `warmups` warm-up passes, `passes`
  * measured passes and, with trace=1, one traced pass.
  *
  * Arguments are `key=value`: workload, seed, passes, setups, trace (0|1),
  * cores, data (input dir), run (scratch dir), ops (registry workloads,
  * comma-separated, run in the order given), datasets (seoul-ingest:
  * `id:kind:csv:startIdx`, semicolon-separated).
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val passes = a("passes").toInt
    val cores = a("cores").toInt
    val (data, run) = (a("data"), a("run"))
    val traced = a("trace") == "1"
    val rec = new Recorder(cores)
    val span = new Tracer(rec)
    // registry workloads: the named queries, in the order given
    val opNames = a.get("ops").toSeq.flatMap(_.split(",").toSeq)
    // Embedded Derby writes its log where graft.sources.Jdbc points it on
    // first use; keep it in the run's scratch directory instead.
    Jdbc.hashCode
    System.setProperty("derby.stream.error.file", s"$run/derby.log")

    // --- set-up, repeated so its median is steady ---
    var spark: SparkSession = null
    val setups = (1 to a("setups").toInt).map { _ =>
      if (spark != null) spark.stop()
      val s0 = System.nanoTime()
      spark = Tables.configure(SparkSession.builder())
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$run/warehouse")
        .config("spark.local.dir", s"$run/local")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark.range(100000).selectExpr("sum(id)").collect()
      val s1 = System.nanoTime()
      prep(workload, spark, data)
      Map("session_s" -> (s1 - s0) / 1e9, "prep_s" -> (System.nanoTime() - s1) / 1e9)
    }

    // warm-up passes write apart from the measured ones
    def makeOps(out: String, audit: String): Seq[(String, () => Long)] =
      workload match {
        case "seoul-ingest" => seoulOps(spark, data, out, a("datasets"), audit, span)
        case _ =>
          val queries = SparkEntry.queries
          opNames.map { name =>
            val fn = queries(name)
            name -> { () =>
              spark.sparkContext.setLocalProperty(Recorder.PhaseKey, "build")
              val df = span("queries.build", name)(fn(spark, data))
              spark.sparkContext.setLocalProperty(Recorder.PhaseKey, "action")
              span("action", name)(df.count())
            }
          }
      }
    val ops = makeOps(run, AuditTable)
    val warmOps = makeOps(s"$run/warmup", s"${AuditTable}_WARMUP")

    // --- passes: the warm-up ones, the measured ones, then the traced one ---
    val warmups = a("warmups").toInt
    val kinds = Seq.fill(warmups)("warmup") ++ Seq.fill(passes)("measure") ++
      (if (traced) Seq("traced") else Nil)
    val failed = mutable.LinkedHashSet.empty[String]
    val rows = mutable.Map.empty[String, Long]
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    val passJson = kinds.zipWithIndex.map { case (kind, p) =>
      if (kind == "traced") {
        spark.sparkContext.addSparkListener(rec)
        spark.listenerManager.register(rec)
        span.on = true
      }
      QueryMemos.reset()
      var heapPeak = 0L
      var hygieneNs = 0L
      val (c0, n0) = compileStats()
      val times = (if (kind == "warmup") warmOps else ops).map { case (name, fn) =>
        spark.sparkContext.setJobGroup(s"$name#$p", name, interruptOnCancel = false)
        val t0 = System.nanoTime()
        val ok =
          try { rows(name) = span("op", name)(fn()); true }
          catch {
            case e: Throwable =>
              failed += name
              System.err.println(s"perfbench: $name failed: ${e.getClass.getName}: ${e.getMessage}")
              false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"perfbench: $kind pass, $name%s $dt%.3f s")
        spark.sparkContext.clearJobGroup()
        val h0 = System.nanoTime()
        // between-op hygiene, as graft.Bench does it. Warm-up passes skip
        // the GC but for the last one: the first full GCs unload the
        // classes the warm-ups generated and slow the pass after them.
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        if (kind != "warmup" || p == warmups - 1) {
          System.gc()
          heapPeak = math.max(heapPeak, heap.getHeapMemoryUsage.getUsed)
        }
        hygieneNs += System.nanoTime() - h0
        s"""{"name":"$name","s":$dt,"ok":$ok}"""
      }
      val (c1, n1) = compileStats()
      span.on = false
      s"""{"kind":"$kind","ops":${times.mkString("[", ",", "]")},""" +
        s""""heap_live_peak_mb":${heapPeak / 1048576.0},""" +
        s""""compile_s":${(c1 - c0) / 1e9},"compiles":${n1 - n0},""" +
        s""""hygiene_s":${hygieneNs / 1e9}}"""
    }

    // --- what the output checks need, outside the timed region ---
    spark.sparkContext.setJobGroup("check", "output check", interruptOnCancel = false)
    val check0 = System.nanoTime()
    val checks = workload match {
      case "seoul-ingest" => seoulChecks(spark, run, a("datasets"))
      case _ =>
        val queries = SparkEntry.queries
        val oracle = SparkEntry.oracleSql
        // the timed count() prunes projected columns, so every op with an
        // oracle re-runs here unpruned and has its whole result hashed
        val results = opNames.filterNot(failed.contains).flatMap { name =>
          val r =
            try {
              val hash = oracle.get(name).fold("") { q =>
                s""","hash":${str(ResultHash(queries(name)(spark, data)))},""" +
                  s""""oracle_sql":${str(q)}"""
              }
              Some(s"""${str(name)}:{"rows":${rows(name)}$hash}""")
            } catch { case e: Throwable =>
              failed += name
              System.err.println(s"perfbench: hashing $name failed: ${e.getMessage}")
              None
            }
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
          r
        }
        results.mkString("{", ",", "}")
    }
    val checkS = (System.nanoTime() - check0) / 1e9
    spark.stop() // drains the listener bus before the recorder is read

    val trace = if (!traced) "null" else {
      val tp = s"#${kinds.size - 1}"
      val opName = (g: String) => if (g.endsWith(tp)) Some(g.dropRight(tp.length)) else None
      def spanSum(name: String) =
        rec.spans.filter(_.name == name).map(s => s.end - s.start).sum / 1e9
      val layer = rec.summary(opName) ++ Map(
        "queries.build_s" -> spanSum("queries.build"),
        "sources.schema_s" -> spanSum("sources.schema"),
        "sources.csv_read_s" -> spanSum("sources.csv_read"),
        "sources.write_s" -> spanSum("sources.write"),
        "sources.jdbc_write_s" -> spanSum("sources.jdbc_write"),
        "pipeline.enrich_s" -> spanSum("pipeline.enrich"))
      Files.write(Paths.get(s"$run/spans.jsonl"), rec.spansJson.asJava)
      layer.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
    }
    val setupJson = setups.map(_.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}"))
    Files.writeString(Paths.get(s"$run/result.json"),
      s"""{"main_ms":$mainMs,"setups":${setupJson.mkString("[", ",", "]")},""" +
        s""""passes":${passJson.mkString("[", ",", "]")},""" +
        s""""failed":${failed.toSeq.map(str).mkString("[", ",", "]")},""" +
        s""""checks":$checks,"check_s":$checkS,"trace":$trace}""")
  }

  /** Spans around calls into a layer while `on` (the traced pass), a plain
    * call otherwise. */
  final class Tracer(rec: Recorder) {
    var on = false
    def apply[T](name: String, op: String = "")(body: => T): T =
      if (on) rec.span(name, op)(body) else body
  }

  /** JVM-wide Janino compile time (ns) and compile count. */
  private def compileStats(): (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Table prep: register the workload's tables (none of registry-small's
    * queries probes a bucketed or partitioned layout). */
  private def prep(workload: String, s: SparkSession, data: String): Unit = workload match {
    case "seoul-ingest" =>
      Seq("schema_rows", "doc_pages", "catalog", "pages")
        .foreach(t => s.read.parquet(s"$data/$t.parquet").schema)
    case _ =>
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings").foreach(t => Tables.table(s, data, t).schema)
  }

  private final case class Dataset(id: Int, typed: Boolean, csv: String, startIdx: Long)

  private def datasets(spec: String): Seq[Dataset] = spec.split(";").toSeq.map { d =>
    val Array(id, kind, csv, start) = d.split(":")
    Dataset(id.toInt, kind == "typed", csv, start.toLong)
  }

  private val DerbyUrl = "jdbc:derby:memory:perfbench;create=true"
  private val DerbyDriver = Some("org.apache.derby.jdbc.EmbeddedDriver")
  private val AuditTable = "INGEST_AUDIT"

  /** seoul-ingest: one op per dataset (schema, resumable CSV read and
    * typing, typed NLDATA_nnnnnn parquet write, audit row to Derby), then
    * category enrichment of the catalog. Each op returns its row count. */
  private def seoulOps(s: SparkSession, data: String, run: String, spec: String,
      auditTable: String, sp: Tracer): Seq[(String, () => Long)] = {
    val schemaRows = s.read.parquet(s"$data/schema_rows.parquet")
    val docPages = s.read.parquet(s"$data/doc_pages.parquet")
    val ingest = datasets(spec).map { d =>
      val table = f"NLDATA_${d.id}%06d"
      val csv = s"$data/${d.csv}"
      table -> { () =>
        val (typed, quarantined) =
          if (d.typed) {
            val schema = sp("sources.schema")(
              CatalogSchema.fromRows(schemaRows.filter(col("dataset_id") === d.id)))
            sp("sources.csv_read") {
              val staged = Ingest.withSurrogateId(Ingest.csvQuarantine(s, csv, schema))
                .filter(col("id") > d.startIdx)
              val bad = staged.filter(col(Ingest.CorruptCol).isNotNull).count()
              (Ingest.applyTypesLenient(staged.filter(col(Ingest.CorruptCol).isNull), schema), bad)
            }
          } else {
            val inferred = sp("sources.schema") {
              val cols = SchemaInfer.inferColumns(docPages.filter(col("page_id") === d.id))
                .select(col("english").as("physical_column_name"),
                  lit("VARCHAR2").as("physical_column_type"),
                  col("ordinal").as("physical_column_order"))
              CatalogSchema.fromRows(cols)
            }
            import s.implicits._
            val rows = inferred.fields.toSeq.zipWithIndex
              .map { case (f, i) => (f.name, "VARCHAR2", i + 1) }
              .toDF("physical_column_name", "physical_column_type", "physical_column_order")
            sp("sources.csv_read")(
              (SeoulPipeline.csvIngest(s, d.id, csv, rows, d.startIdx)._1, 0L))
          }
        sp("sources.write")(typed.write.mode(SaveMode.Overwrite).parquet(s"$run/nldata/$table"))
        sp("sources.jdbc_write") {
          val written = s.read.parquet(s"$run/nldata/$table")
          val audit = Audit.record(s, table, written, quarantined).cache()
          Jdbc.write(audit, DerbyUrl, auditTable, SaveMode.Append, DerbyDriver,
            Some("table_name VARCHAR(32), data_inserted_yn VARCHAR(1)"))
          audit.select("data_insert_row").head().getLong(0)
        }
      }
    }
    val catalog = s.read.parquet(s"$data/catalog.parquet")
    val pages = s.read.parquet(s"$data/pages.parquet")
    ingest :+ ("categoryEnrich" -> { () =>
      sp("pipeline.enrich") {
        SeoulPipeline.categoryEnrich(catalog, pages)
          .write.mode(SaveMode.Overwrite).parquet(s"$run/catalog_enriched")
      }
      catalog.count()
    })
  }

  /** Read back what the seoul-ingest passes wrote: per-table row and NULL
    * counts, the audit rows in Derby, and the enriched catalog. */
  private def seoulChecks(s: SparkSession, run: String, spec: String): String = {
    val tables = datasets(spec).map { d =>
      val table = f"NLDATA_${d.id}%06d"
      val t = s.read.parquet(s"$run/nldata/$table")
      val nulls = if (d.typed) t.filter(col("MEA_VALUE").isNull).count() else 0L
      s"""${str(table)}:{"rows":${t.count()},"null_values":$nulls,""" +
        s""""bytes":${dirBytes(new java.io.File(s"$run/nldata/$table"))}}"""
    }
    val audit = Jdbc.readPartitioned(s, DerbyUrl, AuditTable, "data_insert_row", 1, DerbyDriver)
      .collect().map { r =>
        s"""{"table":${str(r.getAs[String]("table_name"))},""" +
          s""""inserted":${str(r.getAs[String]("data_inserted_yn"))},""" +
          s""""rows":${r.getAs[Long]("data_insert_row")},""" +
          s""""high_water_mark":${r.getAs[Long]("high_water_mark")},""" +
          s""""quarantined":${r.getAs[Long]("data_quarantine_row")},""" +
          s""""dated":${r.getAs[Any]("data_insert_date") != null}}"""
      }
    val enriched = s.read.parquet(s"$run/catalog_enriched")
    s"""{"tables":${tables.mkString("{", ",", "}")},"audit":${audit.mkString("[", ",", "]")},""" +
      s""""catalog_rows":${enriched.count()},""" +
      s""""catalog_enriched":${enriched.filter(col("category_big").isNotNull).count()}}"""
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten
      .filterNot(_.getName.startsWith(".")).map(dirBytes).sum
    else f.length()

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
