package graft.etl

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Batch CLI — the reference's entry contract
  * (`etl_pipeline/cli.py:8-32`): input envelope + app config + mapping
  * config, run once, print the report summary.
  *
  * Usage:
  *   runMain graft.etl.Cli --input in.json --app-config app.yaml \
  *     --mapping-config mapping.yaml [--parquet-sink DIR]
  *
  * With `--parquet-sink` the run writes parquet tables under DIR
  * (local/test mode). Otherwise it targets Postgres per the app
  * config's database section over the built-in wire-protocol client
  * (partition-parallel COPY, no JDBC driver jar), first creating the
  * database when `create_if_missing` is on (K3).
  */
object Cli {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get("graft-etl")
    try { val _ = run(spark, args) }
    finally spark.stop()
  }

  /** Parse `args`, run the pipeline once on `spark` and print the
    * summary; the session stays open for the caller.
    */
  def run(spark: SparkSession, args: Array[String]): Pipeline.PipelineResult = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    val input = opts.getOrElse("input", sys.error("--input required"))
    val appPath = opts.getOrElse("app-config", sys.error("--app-config required"))
    val mappingPath = opts.getOrElse("mapping-config", sys.error("--mapping-config required"))

    val app = EtlConfig.appConfig(EtlConfig.loadRaw(appPath))
    val mapping = EtlConfig.mappingConfig(EtlConfig.loadRaw(mappingPath))
    EtlConfig.validateMappingTypes(mapping, app.runtime.typeMappings)

    val sink: TableSink = opts.get("parquet-sink") match {
      case Some(dir) => new ParquetSink(dir)
      case None =>
        val db = app.database
        val s = new PgWireSink(PgConn(db.host, db.port, db.user, db.name, db.password))
        EnsureDatabase.overWire(db) // K3: fresh deployment → CREATE DATABASE first
        s
    }
    val result = Pipeline.run(spark, Ingestion.loadEnvelope(spark, input), app, mapping, sink)

    // log_summary analog (reporting.py:36-95)
    println(s"ETL Summary")
    println(s"Ingestion date: ${result.ingestionDate}")
    def fmt(s: Set[String]) = if (s.isEmpty) "None" else s.toSeq.sorted.mkString(", ")
    println(s"Missing collections: ${fmt(result.missingCollections)}")
    println(s"Unmapped collections: ${fmt(result.unmappedCollections)}")
    println(s"Missing tables in schema.sql: ${fmt(result.missingTablesInput)}")
    println(s"Missing tables in database: ${fmt(result.missingTablesDb)}")
    result.objectStatuses.toSeq.sorted.foreach { case (name, status) =>
      println(s"  - $name: $status")
    }
    if (result.counters.nonEmpty) {
      println(f"${"Collection"}%-20s ${"Processed"}%9s ${"Errors"}%7s ${"InsertFail"}%11s")
      result.counters.sortBy(_.collection).foreach { c =>
        println(f"${c.collection}%-20s ${c.processed}%9d ${c.errors}%7d ${c.insertFailures}%11d")
      }
    }
    result
  }
}
