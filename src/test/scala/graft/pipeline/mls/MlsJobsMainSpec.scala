package graft.pipeline.mls

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.pipeline.JobsCli
import graft.sources.ManagedTable

/** Drives the REAL Job-1 pipeline from argv (MlsJobsMain over the
  * reference flag surface): the MSSQL property-id source with
  * hand-computed 3-hop answers, the priority-ordered --property_id_limit
  * budget (never-tried listings beat already-queried ones regardless of
  * key order — curated.py:211-227), and the side artifacts the oracle
  * gate does not hash (reject/outdated text legs, the asg-stripped ORC
  * mirror, the create-empty commit metadata). */
class MlsJobsMainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** MSSQL fixtures — the MlsEnrichMssqlGate value cycles, written as ORC
    * dirs under `root` so they travel the real --input_dir_*_mssql path. */
  private def writeMssqlFixtures(root: String): Unit = {
    val ks = spark.range(1, 151).selectExpr("CAST(id AS BIGINT) AS k")
    ks.filter("k % 7 <> 0").selectExpr(
        "'MLS' || CAST(k % 3 AS STRING) AS mls",
        "'L' || CAST(k AS STRING) AS mlslistingid",
        """CASE WHEN k % 11 = 1 THEN CAST(NULL AS BIGINT)
          | WHEN k % 13 = 2 THEN CAST(2000 + k % 10 AS BIGINT)
          | ELSE CAST(1001 + k % 50 AS BIGINT) END AS ailpropertyid""".stripMargin)
      .write.mode("overwrite").orc(s"$root/mssql_ldt")
    ks.filter("k <= 60").selectExpr(
        "CAST(1000 + k AS BIGINT) AS asgpropid",
        """CASE WHEN k % 6 = 3 THEN CAST(NULL AS BIGINT)
          | WHEN k % 4 = 0 THEN CAST(1001 + k % 30 AS BIGINT)
          | WHEN k % 9 = 5 THEN CAST(3000 + k AS BIGINT)
          | ELSE CAST(1000 + k AS BIGINT) END AS asgprimaryid""".stripMargin,
        "CAST(CASE WHEN k % 3 = 1 THEN 1 ELSE 0 END AS INTEGER) AS isprovisional",
        "CASE WHEN k % 5 < 3 THEN '2023-06-01' ELSE CAST(NULL AS STRING) END AS lastvalidated",
        "CASE WHEN k % 7 < 4 THEN '2022-01-01' ELSE CAST(NULL AS STRING) END AS asgtimestamp")
      .write.mode("overwrite").orc(s"$root/mssql_pm")
  }

  private def writeResource(root: String, name: String): Unit =
    Files.writeString(Paths.get(root, name), new String(
      getClass.getResourceAsStream(s"/$name").readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8))

  /** Read-only Job 1/2 inputs: one January batch, the six dims and both
    * schema files. */
  private lazy val mirrorInputs: String = {
    val root = Files.createTempDirectory("graft_cli_mirror_in").toString
    MlsJob1Gate.synthesize(
        MlsJob1Gate.rawBase(spark, dir, 1, "2024-01-01", tag = "x"))
      .drop("gate_batch").write.mode("overwrite").orc(s"$root/in_a")
    MlsJob1Gate.dims.foreach { case (n, _, _) =>
      MlsJob1Gate.dimDf(spark, n).write.mode("overwrite").orc(s"$root/dim_$n")
    }
    writeResource(root, "mls_listings_schema.json")
    writeResource(root, "mls_listings_hist_schema.json")
    root
  }

  /** Job 1 then Job 2 over [[mirrorInputs]] into a fresh output root, both
    * with `extra` appended to their argv; returns the output root. */
  private def runJobs12(extra: Seq[String]): String = {
    val in = mirrorInputs
    val out = Files.createTempDirectory("graft_cli_mirror").toString
    val window = Seq("--from_date", "20240101", "--to_date", "20240131",
      "--input_dir_listings", s"$in/in_a") ++
      MlsJob1Gate.dims.flatMap { case (n, _, _) =>
        val flag = if (n == "psub") "property_sub_types" else n
        Seq(s"--input_dir_$flag", s"$in/dim_$n")
      }
    MlsJobsMain.runJob1(spark, JobsCli.parse(window ++ Seq(
        "--listings_output_dir", s"$out/curated",
        "-s", s"$in/mls_listings_schema.json", "-r", s"$out/rejects") ++ extra),
      asOf = expr("DATE '2024-06-01'"),
      now = expr("TIMESTAMP '2024-06-01 00:00:00'"))
    MlsJobsMain.runJob2(spark, JobsCli.parseHist(window ++ Seq(
        "--listings_hist_output_dir", s"$out/hist",
        "-s", s"$in/mls_listings_hist_schema.json", "-g", s"$out/logs") ++ extra),
      asOf = expr("DATE '2024-06-01'"),
      now = expr("TIMESTAMP '2024-06-01 00:00:00'"))
    out
  }

  private def orcFiles(dir: String): Int = {
    val st = Files.list(Paths.get(dir))
    try st.iterator().asScala.count(_.getFileName.toString.endsWith(".orc"))
    finally st.close()
  }

  /** The mirror at `mirrorDir` holds exactly the live snapshot of
    * `deltaRoot` minus `dropped`: same columns in order, same rows. */
  private def assertMirrors(mirrorDir: String, deltaRoot: String,
                            dropped: Seq[String]): Unit = {
    val mirror = spark.read.orc(mirrorDir)
    val live = ManagedTable.read(spark, deltaRoot).drop(dropped: _*)
    assert(mirror.columns.toSeq == live.columns.toSeq)
    assert(live.count() > 0)
    assert(mirror.exceptAll(live).isEmpty && live.exceptAll(mirror).isEmpty)
  }

  test("budget: priority cascade beats key order at every level") {
    import spark.implicits._
    // Rows crafted so plain (mls, mls_listing_id) order would pick the
    // EXACT OPPOSITE of the reference's priority order. Fields:
    // (mls, lid, source, load_status, queried, responded)
    val ts = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val rows = Seq(
      // key order: L1 first; priority: never-tried source sorts FIRST, so
      // L9 (source null) must beat every 'API'/'MSSQL' row.
      ("M", "L9", null, "Null", null, null),
      // among tried: MSSQL > API under desc (null, MSSQL, API)
      ("M", "L8", "MSSQL", "Null", ts, java.lang.Boolean.TRUE),
      // same source: load-status rank New(0) < Null(1) < Prov(2) < Final(3)
      ("M", "L7", "API", "Null", ts, java.lang.Boolean.TRUE),   // rank 1
      ("M", "L2", "API", "Provisional", ts, java.lang.Boolean.TRUE), // rank 2
      // same source+rank: responded asc_nulls_first (null, false, true)
      ("M", "L3", "API", "Final", ts, null),
      ("M", "L1", "API", "Final", ts, java.lang.Boolean.FALSE))
      .toDF("mls", "mls_listing_id", "asg_primary_id_source",
        "asg_primary_id_load_status",
        "asg_primary_id_source_queried_timestamp",
        "asg_primary_id_source_responded_flag")
    val picked = (n: Int) => MlsJobsMain.budget(rows, n)
      .select("mls_listing_id").collect().map(_.getString(0)).toSeq
    assert(picked(1) == Seq("L9"))
    assert(picked(2) == Seq("L9", "L8"))
    assert(picked(3) == Seq("L9", "L8", "L7"))
    assert(picked(4) == Seq("L9", "L8", "L7", "L2"))
    assert(picked(5) == Seq("L9", "L8", "L7", "L2", "L3"))
    assert(picked(6) == Seq("L9", "L8", "L7", "L2", "L3", "L1"))
    // the aux rank column does not leak into the result
    assert(!MlsJobsMain.budget(rows, 2).columns
      .contains("_asg_primary_id_load_status_num"))
  }

  test("MSSQL-mode CLI run wires the 3-hop lookup with known answers") {
    val root = Files.createTempDirectory("graft_cli_mssql").toString
    MlsJob1Gate.synthesize(
        MlsJob1Gate.rawBase(spark, dir, 1, "2024-01-01", tag = "x"))
      .drop("gate_batch").write.mode("overwrite").orc(s"$root/in_a")
    MlsJob1Gate.dims.foreach { case (n, _, _) =>
      MlsJob1Gate.dimDf(spark, n).write.mode("overwrite").orc(s"$root/dim_$n")
    }
    Files.writeString(Paths.get(root, "schema.json"), new String(
      getClass.getResourceAsStream("/mls_listings_schema.json").readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8))
    writeMssqlFixtures(root)

    val a = JobsCli.parse(Seq(
      "--from_date", "20240101", "--to_date", "20240131",
      "--input_dir_listings", s"$root/in_a",
      "--input_dir_boards", s"$root/dim_boards",
      "--input_dir_states", s"$root/dim_states",
      "--input_dir_zipcodes", s"$root/dim_zipcodes",
      "--input_dir_property_sub_types", s"$root/dim_psub",
      "--input_dir_counties", s"$root/dim_counties",
      "--input_dir_geo_ids", s"$root/dim_geo_ids",
      "--listings_output_dir", s"$root/out",
      "-s", s"$root/schema.json", "-r", s"$root/rejects",
      "--num_output_files", "1",
      "--property_id_source", "MSSQL",
      "--input_dir_listings_mssql", s"$root/mssql_ldt",
      "--input_dir_property_master_mssql", s"$root/mssql_pm"))
    val deltaRoot = MlsJobsMain.runJob1(spark, a,
      asOf = expr("DATE '2024-06-01'"),
      now = expr("TIMESTAMP '2024-06-01 00:00:00'"))

    val cur = ManagedTable.read(spark, deltaRoot)
    val mssqlRows = cur.filter(col("asg_primary_id_source") === "MSSQL")
    assert(mssqlRows.count() > 0, "MSSQL-mode run produced no lookups")
    assert(mssqlRows.filter(col("asg_primary_id").isNotNull).count() > 0)
    // Hand-computed 3-hop answer for (MLS0, L9): ail = 1001 + 9 = 1010 →
    // PropertyMaster k=10 row → asgprimaryid 1010 (no redirect), hop-2
    // isprovisional=1 and asgtimestamp present → final_flag=false →
    // 'Provisional'; Listing_dt hit → responded=true; ail==prim → fixed=false.
    val r = cur.filter(col("mls") === "MLS0" && col("mls_listing_id") === "L9")
      .select("asg_primary_id", "asg_primary_id_load_status",
        "asg_primary_id_final_flag", "asg_primary_id_source_responded_flag",
        "asg_primary_id_mssql_fixed_flag", "asg_primary_id_source")
      .head()
    assert(r.getLong(0) == 1010L)
    assert(r.getString(1) == "Provisional")
    assert(!r.getBoolean(2))
    assert(r.getBoolean(3))
    assert(!r.getBoolean(4))
    assert(r.getString(5) == "MSSQL")
  }

  test("MSSQL-mode backfill (runJob3) wires the 3-hop lookup from argv") {
    val root = Files.createTempDirectory("graft_cli3_mssql").toString
    // ORC bootstrap in the reference's pre-backfill shape (no asg_ cols —
    // the first run adds the placeholders, backfill:81-92)
    graft.sources.TableIO.writeOrcZlib(
      MlsJob3Gate.ks(spark, dir).selectExpr(MlsJob3Gate.bootExprs: _*),
      s"$root/orc", numFiles = 1)
    Files.writeString(Paths.get(root, "schema.json"), new String(
      getClass.getResourceAsStream("/mls_listings_schema.json").readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8))
    // Same MSSQL value cycles as the Job-1 MSSQL spec above — the
    // bootstrap keys ('MLS'||k%3, 'L'||k) are the same shape, so the
    // hand-computed (MLS0, L9) hop answer carries over.
    writeMssqlFixtures(root)

    val a = JobsCli.parseBackfill(Seq(
      "--listings_delta_dir", s"$root/delta",
      "--listings_orc_dir", s"$root/orc",
      "--property_id_source", "MSSQL",
      "--input_dir_listings_mssql", s"$root/mssql_ldt",
      "--input_dir_property_master_mssql", s"$root/mssql_pm",
      "--property_id_modes", "Null",
      "-s", s"$root/schema.json", "-g", s"$root/logs"))
    MlsJobsMain.runJob3(spark, a,
      now = expr("TIMESTAMP '2024-06-01 00:00:00'"))

    val cur = ManagedTable.read(spark, s"$root/delta")
    val mssqlRows = cur.filter(col("asg_primary_id_source") === "MSSQL")
    assert(mssqlRows.count() > 0, "MSSQL-mode backfill produced no lookups")
    // (MLS0, L9): ail = 1001 + 9 = 1010 → PropertyMaster k=10 →
    // asgprimaryid 1010, isprovisional=1 → 'Provisional', responded=true
    val r = cur.filter(col("mls") === "MLS0" && col("mls_listing_id") === "L9")
      .select("asg_primary_id", "asg_primary_id_load_status",
        "asg_primary_id_source_responded_flag", "asg_primary_id_source")
      .head()
    assert(r.getLong(0) == 1010L)
    assert(r.getString(1) == "Provisional")
    assert(r.getBoolean(2))
    assert(r.getString(3) == "MSSQL")
  }

  test("CLI budget integration: the re-run budget avoids exactly the keys " +
      "a key-ordered budget would re-pick") {
    // Run A: February window, budget 2 → with every candidate tied on
    // priority, the budget falls to the key tiebreak and picks the 2
    // LOWEST (mls, mls_listing_id) keys. Run B re-sends the same window
    // (latest-wins tie → new wins, the asg recompute carries run A's
    // enrichment) with ALL modes and budget 2: the key-order head is now
    // exactly run A's tried set, so a key-ordered budget would re-pick
    // it — the priority cascade must pick never-tried keys instead.
    val root = Files.createTempDirectory("graft_cli_budget").toString
    // The February batch TWICE per key: the second slice carries an older
    // source_as_of_date, so window 1 marks it outdated — exercising the
    // 'Outdated record' reject leg deterministically.
    MlsJob1Gate.synthesize(
        MlsJob1Gate.rawBase(spark, dir, 2, "2024-02-01", tag = "x")
          .unionByName(MlsJob1Gate.rawBase(spark, dir, 2, "2024-02-01",
            tag = "x", soadTs = "2024-01-03 00:00:00")))
      .drop("gate_batch").write.mode("overwrite").orc(s"$root/in_a")
    // argv() names both in_a and in_b; in_b holds a batch outside every
    // window this test uses (multi-dir scan still exercises, zero rows
    // survive the load_date filter).
    MlsJob1Gate.synthesize(
        MlsJob1Gate.rawBase(spark, dir, 1, "2023-06-01", tag = "x"))
      .drop("gate_batch").write.mode("overwrite").orc(s"$root/in_b")
    MlsJob1Gate.dims.foreach { case (n, _, _) =>
      MlsJob1Gate.dimDf(spark, n).write.mode("overwrite").orc(s"$root/dim_$n")
    }
    Files.writeString(Paths.get(root, "schema.json"), new String(
      getClass.getResourceAsStream("/mls_listings_schema.json").readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8))
    val server = new graft.enrich.StubPropertyServer()
    val gateRoot = try {
      def run(nowTs: String, modes: String): String = {
        val a = JobsCli.parse(MlsJobCliGate.argv(root, "20240201", "20240228",
          Seq("--property_id_source", "API",
            "--property_id_api_endpoint", server.lookupUrl,
            "--property_id_api_batch_size", "64",
            "--property_id_api_sleep", "0",
            "--property_id_modes", modes,
            "--property_id_limit", "2")))
        MlsJobsMain.runJob1(spark, a,
          asOf = expr("DATE '2024-06-01'"),
          now = expr(s"TIMESTAMP '$nowTs'"))
      }
      val gr = run("2024-07-01 00:00:00", "New")
      val afterA = ManagedTable.read(spark, gr)
      val keyOf = (r: org.apache.spark.sql.Row) =>
        (r.getString(0), r.getString(1))
      val triedA = afterA
        .filter(col("asg_primary_id_source_queried_timestamp").isNotNull)
        .select("mls", "mls_listing_id").collect().map(keyOf).toSet
      val allKeys = afterA.select("mls", "mls_listing_id")
        .collect().map(keyOf).toSet
      assert(triedA.size == 2)
      assert(allKeys.size >= 4,
        s"fixture too small for a non-vacuous budget test: ${allKeys.size}")
      // run A's budget, all-tied, picked the key-order head
      assert(triedA == allKeys.toSeq.sorted.take(2).toSet)

      run("2024-08-01 00:00:00", "New,Null,Provisional,Final")
      val pickedB = ManagedTable.read(spark, gr)
        .filter(col("asg_primary_id_source_queried_timestamp") ===
          to_timestamp(lit("2024-08-01 00:00:00")))
        .select("mls", "mls_listing_id").collect().map(keyOf).toSet
      assert(pickedB.size == 2)
      assert(pickedB.intersect(triedA).isEmpty,
        "budget re-spent on already-tried keys — priority ordering not applied")
      // and specifically: the never-tried keys it picked are the key-order
      // head of the REMAINING pool (the cascade ends in the key tiebreak)
      assert(pickedB == (allKeys -- triedA).toSeq.sorted.take(2).toSet)
      gr
    } finally server.stop()
    // reject dir: run-B overwrote with its rejected + appended outdated
    val rejectLines = spark.read.text(s"$root/rejects")
    assert(rejectLines.count() > 0)
    assert(rejectLines.filter(col("value")
      .contains("Outdated record")).count() > 0)
    // Outdated-dump fidelity (curated.py:184-189): the dumped rows keep
    // their ORIGINAL bookkeeping values, not the window-recomputed ones.
    // The outdated rows are run-B's older-soad duplicates, transformed at
    // run-B's clock (2024-08-01) — the per-key min(create_timestamp) the
    // winners take is run-A's 2024-07-01, which must NOT appear here.
    val outdatedRows = spark.read.json(
        spark.read.text(s"$root/rejects").as[String](
          org.apache.spark.sql.Encoders.STRING))
      .filter(col("_reject_reasons") === "Outdated record")
    assert(outdatedRows.count() > 0)
    assert(outdatedRows.filter(!col("create_timestamp")
      .cast("string").startsWith("2024-08-01")).count() == 0,
      "outdated dump carries recomputed create_timestamp, not the original")
    // ORC mirror: asg bookkeeping columns stripped, primary id kept
    val mirror = spark.read.orc(s"$root/out")
    assert(mirror.columns.contains("asg_primary_id"))
    assert(mirror.columns.contains("asg_primary_id_final_flag"))
    assert(!mirror.columns.contains("asg_primary_id_load_status"))
    assert(mirror.count() == ManagedTable.read(spark, gateRoot).count())
    // create-empty commit metadata (curated.py:325's userMetadata)
    val h = ManagedTable.commitHistoryWithMetadata(gateRoot)
    assert(h.head._3.contains("Create empty listings delta table"))
    assert(h.exists(_._3.exists(_.contains("job=listings_curated"))))
  }

  test("without --num_output_files each mirror is sized by bytes: one " +
      "file, row-equal to the live snapshot minus the dropped asg_* columns") {
    val out = runJobs12(Nil)
    assert(orcFiles(s"$out/curated") == 1)
    assert(orcFiles(s"$out/hist") == 1)
    assertMirrors(s"$out/curated", MlsJobsMain.deltaDirOf(s"$out/curated"),
      MlsJobsMain.mirrorDropped)
    assertMirrors(s"$out/hist", MlsJobsMain.deltaDirOf(s"$out/hist"), Nil)
  }

  test("an explicit --num_output_files still writes exactly that many files") {
    val out = runJobs12(Seq("--num_output_files", "3"))
    assert(orcFiles(s"$out/curated") == 3)
    assert(orcFiles(s"$out/hist") == 3)
  }

  test("Job 3 --overwrite_orc_location without --num_output_orc_files " +
      "rewrites the ORC dir as one byte-sized file") {
    val root = Files.createTempDirectory("graft_cli3_mirror").toString
    graft.sources.TableIO.writeOrcZlib(
      MlsJob3Gate.ks(spark, dir).selectExpr(MlsJob3Gate.bootExprs: _*),
      s"$root/orc", numFiles = 3)
    writeResource(root, "mls_listings_schema.json")
    writeMssqlFixtures(root)
    MlsJobsMain.runJob3(spark, JobsCli.parseBackfill(Seq(
        "--listings_delta_dir", s"$root/delta",
        "--listings_orc_dir", s"$root/orc",
        "--property_id_source", "MSSQL",
        "--input_dir_listings_mssql", s"$root/mssql_ldt",
        "--input_dir_property_master_mssql", s"$root/mssql_pm",
        "--property_id_modes", "Null",
        "--overwrite_orc_location",
        "-s", s"$root/mls_listings_schema.json", "-g", s"$root/logs")),
      now = expr("TIMESTAMP '2024-06-01 00:00:00'"))
    assert(orcFiles(s"$root/orc") == 1)
    assertMirrors(s"$root/orc", s"$root/delta", MlsJobsMain.mirrorDropped)
  }
}
