package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{JobsCli, JobsDemo}

/** Drives all three job drivers END-TO-END FROM ARGV with the reference's
  * flag surface (mls_listings_curated.py:18-56): date window, MLS isin,
  * output-file count, retention vacuum, reject logging. */
class JobsCliSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val fixture = "/root/testdata/sf0.001/orders.parquet"

  test("parser: defaults, lists, dates, and loud failures") {
    val a = JobsCli.parse(Seq(
      "--from_date", "19950101", "--to_date", "19961231",
      "--input_dir_listings", s"$fixture,$fixture",
      "--listings_output_dir", "/tmp/x",
      "--input_mls_list", "MLS0, MLS2",
      "--num_output_files", "7", "--vacuum_hrs", "168",
      "--shuffle_partitions", "3", "--debug", "--log_rejected_records"))
    assert(a.fromDateIso == "1995-01-01" && a.toDateIso == "1996-12-31")
    assert(a.inputDirListings.size == 2)
    assert(a.inputMlsList.contains(Seq("MLS0", "MLS2")))
    assert(a.numOutputFiles.contains(7) && a.vacuumHrs.contains(168.0))
    assert(a.shufflePartitions == 3 && a.debug && a.logRejectedRecords)

    // defaults mirror the reference's argparse defaults, except the
    // mirror file count: unset means sized by bytes, not a fixed 100
    val d = JobsCli.parse(Seq("--from_date", "19950101", "--to_date", "19950201",
      "--input_dir_listings", fixture, "--listings_output_dir", "/tmp/x"))
    assert(d.numOutputFiles.isEmpty && d.shufflePartitions == 2 &&
      d.vacuumHrs.isEmpty && !d.debug)

    intercept[IllegalArgumentException](JobsCli.parse(Seq("--to_date", "19950101")))
    intercept[IllegalArgumentException](JobsCli.parse(Seq(
      "--from_date", "1995-01-01", "--to_date", "19950201",
      "--input_dir_listings", fixture, "--listings_output_dir", "/tmp/x")))
    intercept[IllegalArgumentException](JobsCli.parse(Seq("--bogus_flag", "1")))
  }

  test("hist parser: reference flag set, required flags, foreign-flag rejection") {
    def histArgv(drop: String = ""): Seq[String] = Seq(
      "--from_date", "20240101", "--to_date", "20240131",
      "--input_dir_listings", fixture,
      "--input_dir_boards", "/tmp/b", "--input_dir_states", "/tmp/s",
      "--input_dir_zipcodes", "/tmp/z",
      "--input_dir_property_sub_types", "/tmp/p",
      "--input_dir_counties", "/tmp/c", "--input_dir_geo_ids", "/tmp/g",
      "--listings_hist_output_dir", "/tmp/hist",
      "-s", "/tmp/schema.json", "-g", "/tmp/logs")
      .sliding(2, 2).filterNot(_.head == drop).flatten.toSeq
    val a = JobsCli.parseHist(histArgv() ++
      Seq("--num_output_files", "3", "--vacuum_hrs", "24"))
    assert(a.listingsHistOutputDir.contains("/tmp/hist"))
    assert(a.numOutputFiles.contains(3) && a.vacuumHrs.contains(24.0))
    assert(a.fromDateIso == "2024-01-01")
    // every hist-required flag is enforced
    for (req <- Seq("--listings_hist_output_dir", "--input_dir_boards",
        "--target_schema_file", "--log_dir"))
      intercept[IllegalArgumentException] {
        JobsCli.parseHist(histArgv(drop =
          if (req == "--target_schema_file") "-s"
          else if (req == "--log_dir") "-g" else req))
      }
    // Job-1-only flags are FOREIGN to the hist argparse set (the
    // reference's hist parser has no reject or property-id flags)
    intercept[IllegalArgumentException](
      JobsCli.parseHist(histArgv() ++ Seq("--reject_data_dir", "/tmp/r")))
    intercept[IllegalArgumentException](
      JobsCli.parseHist(histArgv() ++ Seq("--property_id_source", "API")))
    intercept[IllegalArgumentException](
      JobsCli.parseHist(histArgv() :+ "--log_rejected_records"))
  }

  test("backfill parser: choices, switches, and cross-flag requirements") {
    def base: Seq[String] = Seq(
      "--listings_delta_dir", "/tmp/delta",
      "--listings_orc_dir", "/tmp/orc",
      "--property_id_source", "API",
      "--property_id_api_endpoint", "http://x/lookup",
      "--property_id_modes", "Null,Provisional",
      "-s", "/tmp/schema.json", "-g", "/tmp/logs")
    val a = JobsCli.parseBackfill(base ++ Seq(
      "--backfill_start_date", "20240101", "--backfill_end_date", "20240131",
      "--backfill_limit", "40", "--num_output_orc_files", "2",
      "--overwrite_orc_location"))
    assert(a.listingsDeltaDir.contains("/tmp/delta"))
    assert(a.backfillRangeIso.contains(("2024-01-01", "2024-01-31")))
    assert(a.backfillLimit.contains(40) && a.overwriteOrcLocation)
    assert(a.numOutputOrcFiles.contains(2))
    // reference choices: NONE is a Job-1 value, 'New' a Job-1 mode
    intercept[IllegalArgumentException](JobsCli.parseBackfill(
      base.updated(5, "NONE")))
    intercept[IllegalArgumentException](JobsCli.parseBackfill(
      base.updated(9, "New")))
    // API needs an endpoint; MSSQL needs both input dirs
    intercept[IllegalArgumentException](JobsCli.parseBackfill(
      base.patch(6, Nil, 2)))
    intercept[IllegalArgumentException](JobsCli.parseBackfill(
      base.updated(5, "MSSQL").patch(6, Nil, 2)))
    // orc dir must differ from the delta dir (backfill.py:39's contract)
    intercept[IllegalArgumentException](JobsCli.parseBackfill(
      base.updated(3, "/tmp/delta")))
    // Job-1/2 flags are foreign here
    intercept[IllegalArgumentException](JobsCli.parseBackfill(
      base ++ Seq("--from_date", "20240101")))
    intercept[IllegalArgumentException](JobsCli.parseBackfill(
      base ++ Seq("--listings_output_dir", "/tmp/o")))
  }

  test("all three jobs run from argv; window, isin, and vacuum take effect") {
    val out = Files.createTempDirectory("graft_cli").toString
    val argv = Seq(
      "--from_date", "19950101", "--to_date", "19961231",
      "--input_dir_listings", fixture,
      "--listings_output_dir", out,
      "--num_output_files", "2",
      "--vacuum_hrs", "0",
      "--log_rejected_records")
    val r1 = JobsDemo.run(spark, JobsCli.parse(argv))
    assert(r1("curated_rows") > 0 && r1("hist_rows") >= r1("curated_rows"))
    assert(r1("backfilled") > 0)
    // vacuum_hrs 0 ran inside the curated job, dropping its createEmpty
    // v0 and leaving the merged v1; the later backfill merge adds v2 —
    // so exactly two snapshots survive (three commits happened)
    assert(r1("curated_versions") == 2)
    // reject logging produced the quarantine dirs
    assert(Files.exists(Paths.get(out, "rejects", "rejected")))
    // ORC mirror respected --num_output_files
    val orc = Files.list(Paths.get(out, "curated_orc"))
    try {
      import scala.jdk.CollectionConverters._
      assert(orc.iterator().asScala.count(
        _.getFileName.toString.endsWith(".orc")) == 2)
    } finally orc.close()

    // a second run, narrowed by date window AND mls isin, merges fewer keys
    val out2 = Files.createTempDirectory("graft_cli2").toString
    val r2 = JobsDemo.run(spark, JobsCli.parse(Seq(
      "--from_date", "19950101", "--to_date", "19950630",
      "--input_dir_listings", fixture,
      "--listings_output_dir", out2,
      "--input_mls_list", "MLS1")))
    assert(r2("curated_rows") > 0)
    assert(r2("curated_rows") < r1("curated_rows"))
  }

  test("property-id API flags drive the real HTTP client from argv") {
    // choice validation mirrors the reference's argparse contract
    intercept[IllegalArgumentException](JobsCli.parse(Seq(
      "--from_date", "19950101", "--to_date", "19950201",
      "--input_dir_listings", fixture, "--listings_output_dir", "/tmp/x",
      "--property_id_source", "FTP")))
    intercept[IllegalArgumentException](JobsCli.parse(Seq(
      "--from_date", "19950101", "--to_date", "19950201",
      "--input_dir_listings", fixture, "--listings_output_dir", "/tmp/x",
      "--property_id_source", "API"))) // endpoint required

    intercept[IllegalArgumentException](JobsCli.parse(Seq(
      "--from_date", "19950101", "--to_date", "19950201",
      "--input_dir_listings", fixture, "--listings_output_dir", "/tmp/x",
      "--property_id_modes", "New,Bogus"))) // choice-validated like argparse

    val server = new graft.enrich.StubPropertyServer()
    try {
      val out = Files.createTempDirectory("graft_cli_api").toString
      val base = Seq(
        "--from_date", "19950101", "--to_date", "19950401",
        "--input_dir_listings", fixture,
        "--listings_output_dir", out,
        "--property_id_source", "API",
        "--property_id_api_endpoint", server.lookupUrl,
        "--property_id_api_batch_size", "32",
        "--property_id_api_sleep", "0")
      val r = JobsDemo.run(spark, JobsCli.parse(base))
      assert(r("property_ids_looked_up") > 0)
      assert(r("curated_rows") > 0)

      // widening the modes widens the candidate set; a limit caps it
      val out2 = Files.createTempDirectory("graft_cli_api2").toString
      val allModes = JobsDemo.run(spark, JobsCli.parse(base
        .updated(base.indexOf(out), out2) ++ Seq(
        "--property_id_modes", "New,Null,Provisional,Final")))
      assert(allModes("property_ids_looked_up") > r("property_ids_looked_up"))
      val out3 = Files.createTempDirectory("graft_cli_api3").toString
      val limited = JobsDemo.run(spark, JobsCli.parse(base
        .updated(base.indexOf(out), out3) ++ Seq(
        "--property_id_limit", "10")))
      assert(limited("property_ids_looked_up") <= 10)
    } finally server.stop()
  }
}
