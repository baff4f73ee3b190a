package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sources.ManagedTable

/** Runnable end-to-end demo of the three job drivers over the testdata
  * `orders` table, treated as listing snapshots keyed by o_orderkey with
  * o_orderdate as the version axis:
  *
  * {{{ sbt "runMain graft.pipeline.JobsDemo /root/testdata/sf0.001 /tmp/graft_demo" }}}
  *
  * Run 1 ingests an early date window, run 2 a later overlapping one —
  * demonstrating validation quarantine, incremental latest-wins merge,
  * change-history capture, and enrichment backfill on the managed table.
  */
object JobsDemo {

  /** CLI-driven run (reference argv surface, mls_listings_curated.py:18-56):
    * all three jobs over the listings input dirs with the date window,
    * optional MLS isin, shuffle-partition, output-file, reject-dir, and
    * retention-vacuum knobs applied. Returns the run's count report so a
    * spec can drive it from argv end-to-end. */
  def run(spark: SparkSession, a: JobsCliArgs): Map[String, Long] = {
    spark.conf.set("spark.sql.shuffle.partitions", a.shufflePartitions.toString)
    val outDir = a.listingsOutputDir
    // input dirs union positionally (U1), tagged with a synthesized mls
    // code so --input_mls_list actually filters
    val raw = spark.read.parquet(a.inputDirListings: _*)
      .withColumn("mls", concat(lit("MLS"), pmod(col("o_custkey"), lit(3))))
    val windowed = raw.filter(
      col("o_orderdate").between(lit(a.fromDateIso), lit(a.toDateIso)))
    val batch = a.inputMlsList match {
      case Some(codes) => windowed.filter(col("mls").isin(codes: _*))
      case None        => windowed
    }
    val rules = Seq(
      Validation.Rule("status", "invalid_status",
        !col("o_orderstatus").isin("F", "O", "P")),
      Validation.Rule("price", "nonpositive_price", col("o_totalprice") <= 0))
    val curatedCfg = Jobs.CuratedConfig(
      tableRoot = s"$outDir/curated", keys = Seq("o_custkey"),
      ordering = Seq(col("o_orderdate").desc, col("o_orderkey").desc),
      rejectedDir =
        if (a.logRejectedRecords) a.rejectDataDir.orElse(Some(s"$outDir/rejects"))
        else None,
      orcMirrorDir = Some(s"$outDir/curated_orc"),
      numOutputFiles = a.numOutputFiles,
      vacuumHrs = a.vacuumHrs)
    Jobs.runCurated(spark, batch, rules, curatedCfg)

    val histCfg = Jobs.HistoryConfig(
      tableRoot = s"$outDir/hist", keys = Seq("o_custkey", "o_orderdate"),
      versionOrder = Seq(col("o_orderdate").desc, col("o_orderkey").desc),
      entityKeys = Seq("o_custkey"), tracked = Seq("o_totalprice", "o_orderstatus"))
    Jobs.runHistory(spark, batch, histCfg)

    val backfillCfg = Jobs.BackfillConfig(
      tableRoot = curatedCfg.tableRoot, keys = Seq("o_custkey"),
      candidateFilter = col("o_orderstatus") === "O",
      priority = Seq(col("o_totalprice").desc_nulls_last), budget = Some(100),
      enrichedCols = Seq("o_orderpriority"))
    Jobs.runBackfill(spark,
      enrich = df => df.withColumn("o_orderpriority", lit("0-BACKFILLED")),
      backfillCfg)

    // property-id enrichment leg (reference --property_id_* flags): the
    // API route drives the REAL HTTP client (batch size + pre-call sleep
    // from argv, mls_listings_transform.py's call_api shape); the MSSQL
    // route drives the 3-hop Listing_dt → PropertyMaster lookup over the
    // two --input_dir_*_mssql ORC dirs (transform.py:574-633).
    val lookedUp: Long = a.propertyIdSource match {
      case "NONE" => 0L
      case source =>
        // Mode selection (reference --property_id_modes, default New+Null:
        // only listings whose stored load status is in the requested
        // modes are re-looked-up) and the PRIORITY-ORDERED lookup budget
        // (mls_listings_curated.py:211-227): never-tried sources first
        // (desc_nulls_first: null, MSSQL, API), then the load-status rank
        // New < Null < Provisional < Final, then the responded flag
        // (asc_nulls_first: null, false, true), then the key tiebreak —
        // --property_id_limit spends the budget on the listings least
        // likely to have been resolved already, not on the lowest keys.
        val candidates0 = batch.selectExpr(
          "mls",
          "'L' || CAST(o_orderkey AS STRING) AS mls_listing_id",
          "'ADDR ' || CAST(o_custkey % 40 AS STRING) AS street_address",
          "'CITY' || CAST(o_custkey % 5 AS STRING) AS city",
          "'TX' AS state", "'75001' AS zip",
          "CAST(NULL AS STRING) AS unit",
          "CASE CAST(o_orderkey % 4 AS INT) WHEN 0 THEN 'New' " +
            "WHEN 1 THEN 'Null' WHEN 2 THEN 'Provisional' " +
            "ELSE 'Final' END AS asg_primary_id_load_status",
          "CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN CAST(NULL AS STRING) " +
            "WHEN 1 THEN 'MSSQL' ELSE 'API' END AS asg_primary_id_source",
          "CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN CAST(NULL AS BOOLEAN) " +
            "WHEN 1 THEN false ELSE true END " +
            "AS asg_primary_id_source_responded_flag")
          .filter(col("asg_primary_id_load_status")
            .isin(a.propertyIdModes: _*))
        val aux = Seq("asg_primary_id_load_status", "asg_primary_id_source",
          "asg_primary_id_source_responded_flag")
        val candidates = (a.propertyIdLimit match {
          case Some(n) => candidates0
            .withColumn("_load_status_num", expr(
              "CASE asg_primary_id_load_status WHEN 'New' THEN 0 " +
                "WHEN 'Null' THEN 1 WHEN 'Provisional' THEN 2 ELSE 3 END"))
            .orderBy(col("asg_primary_id_source").desc_nulls_first,
              col("_load_status_num").asc_nulls_first,
              col("asg_primary_id_source_responded_flag").asc_nulls_first,
              col("mls").asc, col("mls_listing_id").asc)
            .limit(n).drop("_load_status_num")
          case None => candidates0
        }).drop(aux: _*)
        source match {
          case "API" =>
            val client = new graft.enrich.HttpLookupClient(
              a.propertyIdApiEndpoint.get,
              throttleMillis = (a.propertyIdApiSleep * 1000).toLong)
            graft.pipeline.mls.MlsEnrich
              .lookupPropertyIds(spark, candidates, client,
                a.propertyIdApiBatchSize)
              .map(_.count()).getOrElse(0L)
          case "MSSQL" =>
            graft.pipeline.mls.MlsEnrich
              .lookupPropertyIdsFromMssql(candidates,
                spark.read.orc(a.inputDirListingsMssql.get),
                spark.read.orc(a.inputDirPropertyMasterMssql.get))
              .map(_.filter(col("lkp_asg_primary_id").isNotNull).count())
              .getOrElse(0L)
        }
    }

    val curated = ManagedTable.read(spark, curatedCfg.tableRoot)
    Map(
      "property_ids_looked_up" -> lookedUp,
      "curated_rows" -> curated.count(),
      "hist_rows" -> ManagedTable.read(spark, histCfg.tableRoot).count(),
      "backfilled" ->
        curated.filter(col("o_orderpriority") === "0-BACKFILLED").count(),
      "curated_versions" ->
        ManagedTable.commitHistory(curatedCfg.tableRoot)
          .map(_._1).distinct.count(v =>
            java.nio.file.Files.exists(
              java.nio.file.Paths.get(curatedCfg.tableRoot, s"v$v"))).toLong)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.exists(_.startsWith("--"))) {
      val cli = JobsCli.parse(args.toIndexedSeq)
      val spark = graft.GraftSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", cli.shufflePartitions.toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel(if (cli.debug) "INFO" else "WARN")
      val report = run(spark, cli)
      println(report.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
      spark.stop()
      return
    }
    val Array(sfDir, outDir) = args.take(2)
    val spark = graft.GraftSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val rules = Seq(
      Validation.Rule("status", "invalid_status",
        !col("o_orderstatus").isin("F", "O", "P")),
      Validation.Rule("price", "nonpositive_price", col("o_totalprice") <= 0))
    val curatedCfg = Jobs.CuratedConfig(
      tableRoot = s"$outDir/curated", keys = Seq("o_custkey"),
      ordering = Seq(col("o_orderdate").desc, col("o_orderkey").desc),
      rejectedDir = Some(s"$outDir/quarantine"),
      orcMirrorDir = Some(s"$outDir/curated_orc"))

    def batch(from: String, to: String) =
      orders.filter(col("o_orderdate") >= from && col("o_orderdate") < to)

    Jobs.runCurated(spark, batch("1995-01-01", "1997-01-01"), rules, curatedCfg)
    val afterRun1 = ManagedTable.read(spark, curatedCfg.tableRoot).count()
    Jobs.runCurated(spark, batch("1996-06-01", "1999-01-01"), rules, curatedCfg)
    val afterRun2 = ManagedTable.read(spark, curatedCfg.tableRoot).count()

    val histCfg = Jobs.HistoryConfig(
      tableRoot = s"$outDir/hist", keys = Seq("o_custkey", "o_orderdate"),
      versionOrder = Seq(col("o_orderdate").desc, col("o_orderkey").desc),
      entityKeys = Seq("o_custkey"), tracked = Seq("o_totalprice", "o_orderstatus"))
    Jobs.runHistory(spark, batch("1995-01-01", "1997-01-01"), histCfg)
    Jobs.runHistory(spark, batch("1996-06-01", "1999-01-01"), histCfg)
    val histRows = ManagedTable.read(spark, histCfg.tableRoot).count()

    val backfillCfg = Jobs.BackfillConfig(
      tableRoot = curatedCfg.tableRoot, keys = Seq("o_custkey"),
      candidateFilter = col("o_orderstatus") === "O",
      priority = Seq(col("o_totalprice").desc_nulls_last), budget = Some(100),
      enrichedCols = Seq("o_orderpriority"))
    Jobs.runBackfill(spark,
      enrich = df => df.withColumn("o_orderpriority", lit("0-BACKFILLED")),
      backfillCfg)
    val backfilled = ManagedTable.read(spark, curatedCfg.tableRoot)
      .filter(col("o_orderpriority") === "0-BACKFILLED").count()

    // Bucketed-table leg: delta-proportional merge (see SCALE.md)
    val btRoot = s"$outDir/bucketed"
    graft.sources.BucketedTable.create(btRoot,
      orders.select("o_orderkey", "o_orderstatus", "o_totalprice"),
      Seq("o_orderkey"), nBuckets = 16)
    graft.sources.BucketedTable.merge(spark, btRoot,
      orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
        .limit(10).withColumn("o_orderstatus", lit("U")))
    val btRows = graft.sources.BucketedTable.read(spark, btRoot).count()
    val btUpdated = graft.sources.BucketedTable.read(spark, btRoot)
      .filter(col("o_orderstatus") === "U").count()

    println(s"""{"curated_run1":$afterRun1,"curated_run2":$afterRun2,""" +
      s""""hist_rows":$histRows,"backfilled":$backfilled,""" +
      s""""bucketed_rows":$btRows,"bucketed_updated":$btUpdated}""")
    spark.stop()
  }
}
