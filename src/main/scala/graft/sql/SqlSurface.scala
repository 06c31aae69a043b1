package graft.sql

import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.DataStreamWriter

/** Entry point C (SURVEY.md §3.3): the SQL surface. The reference runs
  * Calcite-planned `INSERT INTO <sink> SELECT ...` statements over streams
  * (the four samza.sql examples); here Catalyst plans the same statements
  * over temp views — batch or streaming — and the INSERT INTO sink maps to
  * the caller's writer (writeStream for topics, write for tables).
  *
  * The reference's SQL UDFs (SURVEY.md §2.3 P6-P7) — `standardize(s)`,
  * `get_sql_field(json, path)`/`GetSqlField`, `get_page_key`/`GetPageKey`
  * — and the native graft functions (`cosine_sim`, `word_shingles`, …)
  * are in every graft session's registry already: `SessionTuning`
  * installs them through `graft.GraftExtensions`, as Catalyst expressions
  * with codegen rather than UDFs. Nothing here registers functions.
  */
object SqlSurface {

  /** Register every testdata table as a temp view. */
  def registerTables(spark: SparkSession, dir: String): Unit =
    Tables.all.foreach(n => Tables.load(spark, dir, n).createOrReplaceTempView(n))

  /** A parsed `INSERT INTO <system>.<target> SELECT ...` statement: the
    * sink system (`kafka`, `memory`, `file`/`parquet`), the target within
    * it (topic / query name / path leaf), and the SELECT remainder. */
  final case class SqlInsert(system: String, target: String, select: String)

  /** Parse the reference's statement shape — `INSERT INTO <system>.<topic>
    * SELECT ...` with leading `--` comment lines, any casing, and optional
    * backticks (all four samza.sql files use exactly this form, e.g.
    * samza-sql-filter/src/main/sql/samza.sql:4-7). */
  def parseInsert(statement: String): SqlInsert = {
    val body = statement.linesIterator
      .filterNot(_.trim.startsWith("--")).mkString("\n").trim
    // the SYSTEM group takes no dots — dotted Kafka topic names are
    // idiomatic (`kafka.page.views` = system kafka, topic page.views),
    // so the first dot is the system/target split and the target keeps
    // the rest
    val re = """(?is)^insert\s+into\s+`?([\w$-]+)`?\s*\.\s*`?([\w.$-]+)`?\s+(select\b.*)$""".r
    body match {
      case re(system, target, select) =>
        SqlInsert(system.toLowerCase(java.util.Locale.ROOT), target, select.trim)
      case _ => throw new IllegalArgumentException(
        s"not an INSERT INTO <system>.<target> SELECT ... statement: $statement")
    }
  }

  /** The reference qualifies STREAM references with their system too
    * (`FROM kafka.`PageViewEvent``); here streams are registered temp
    * views, which live outside any database, so the system qualifier is
    * stripped from FROM/JOIN positions before Catalyst sees the text —
    * `kafka.ProfileChanges` resolves to the view `ProfileChanges`. Only
    * the three reference system names are stripped; a real
    * `database.table` reference passes through untouched. */
  private val sysQualifier =
    """(?i)\b(from|join)(\s+)`?(kafka|eventhubs|kinesis)`?\s*\.\s*""".r

  /** Samza SQL's `` stream.`$table` `` suffix names the TABLE view of a
    * changelog stream (samza-sql-stream-table-join/src/main/sql/samza.sql:8);
    * here it resolves to the `<stream>_table` temp view — the caller
    * registers the materialized latest-wins snapshot (e.g.
    * `StatefulOps.latestSnapshot` output or a static frame) under that
    * name, which is exactly the stream-table-join contract of J2. */
  private val tableSuffix = """(\w+)\s*\.\s*`\$table`""".r

  def stripSystemQualifiers(select: String): String =
    tableSuffix.replaceAllIn(
      sysQualifier.replaceAllIn(select, m => m.group(1) + m.group(2)),
      m => m.group(1) + "_table")

  /** Run a reference-shaped `INSERT INTO <system>.<topic> SELECT ...`
    * end-to-end: plan the SELECT with Catalyst over the registered views
    * (which may be streaming views — `createOrReplaceTempView` on a
    * MemoryStream/Kafka frame keeps it streaming) and return the WIRED
    * `DataStreamWriter` for the parsed sink — the caller only `.start()`s.
    *
    * Sink mapping (SURVEY.md §3.3):
    *  - `kafka.topic`  → `Sinks.kafkaJson` wiring: all columns to one JSON
    *    `value`, format("kafka"), topic = target; needs `brokers` (and
    *    optionally `checkpoint`) in `options`.
    *  - `memory.name`  → named memory sink (the test harness form).
    *  - `file.leaf` / `parquet.leaf` → rolled parquet files under
    *    `options("path")` (the directory; the target is its leaf name),
    *    checkpoint required as for any file sink.
    * Unknown systems throw rather than silently writing nowhere. */
  def insertInto(spark: SparkSession, statement: String,
                 options: Map[String, String] = Map.empty): DataStreamWriter[_] = {
    val ins = parseInsert(statement)
    val selected = spark.sql(stripSystemQualifiers(ins.select))
    require(selected.isStreaming,
      "insertInto wires streaming sinks; for batch views run spark.sql and write the result")
    val checkpoint = options.get("checkpoint")
    // An aggregating SELECT (the samza-sql-groupby statement shape) can't
    // emit in append mode without a watermark; the reference's grouped
    // INSERT continuously re-emits updated counts, which is `update` mode
    // here. Default: update for aggregated plans, append otherwise;
    // options("outputMode") overrides.
    val mode = options.getOrElse("outputMode",
      if (selected.queryExecution.analyzed.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isDefined) "update" else "append")
    def withCheckpoint[T](w: DataStreamWriter[T]): DataStreamWriter[T] =
      checkpoint.fold(w.outputMode(mode))(c =>
        w.outputMode(mode).option("checkpointLocation", c))
    ins.system match {
      case "kafka" =>
        val brokers = options.getOrElse("brokers",
          throw new IllegalArgumentException("kafka sink needs options(\"brokers\")"))
        withCheckpoint(graft.sources.Sinks.encodeKafkaValue(selected)
          .writeStream.format("kafka")
          .option("kafka.bootstrap.servers", brokers)
          .option("topic", ins.target))
      case "memory" =>
        withCheckpoint(selected.writeStream.format("memory").queryName(ins.target))
      case "file" | "parquet" =>
        // the parsed target IS the output's leaf directory under the
        // caller's base path — the statement's named destination stays
        // authoritative instead of being silently ignored
        val base = options.getOrElse("path",
          throw new IllegalArgumentException("file sink needs options(\"path\") base dir"))
        withCheckpoint(selected.writeStream.format("parquet")
          .option("path", s"${base.stripSuffix("/")}/${ins.target}"))
      case other => throw new IllegalArgumentException(
        s"unknown sink system '$other' (know kafka, memory, file/parquet)")
    }
  }
}
