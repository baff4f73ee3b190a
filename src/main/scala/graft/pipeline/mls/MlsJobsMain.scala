package graft.pipeline.mls

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.enrich.{BatchLookup, HttpLookupClient}
import graft.pipeline.{JobsCli, JobsCliArgs, LatestWins}
import graft.schema.SchemaLoader
import graft.sources.{ManagedTable, MergeClauses, TableIO, VersionedLayout}

/** The REAL Job-1 driver behind the reference argv surface
  * (mls_listings_curated.py:62-371): reads ORC listings dirs + the six
  * reference-data dims + the JSON target schema from the parsed flags and
  * drives the full-width pipeline — validate → 133-column transform →
  * union with the live curated table → the two latest-wins windows →
  * optional property-id enrichment (API over HTTP or the MSSQL 3-hop) →
  * reject/outdated text legs → MERGE into the managed table → ORC mirror →
  * retention vacuum. [[graft.pipeline.JobsDemo]] remains the synthetic
  * TPC-H-shaped demo of the same surface; this object is the
  * schema-faithful production entry, gated end-to-end by q_job1_cli.
  *
  * `asOf`/`now` inject the run clock (the reference's `current_date()` /
  * `current_timestamp()`): production `main` passes the real clock, the
  * oracle gate pins both — which is what makes the CLI path
  * hash-checkable.
  *
  * Scale notes: the dims broadcast (MlsValidate/attachGeo), the two
  * windows and the merge shuffle once on (mls, mls_listing_id), the
  * lookup leg batches partition-sized service calls, and the final ORC
  * mirror is sized by the snapshot's bytes (~128 MiB files) unless
  * `--num_output_files` pins the count — the same shapes the e2e gates pin.
  */
object MlsJobsMain {

  private val keys = Seq("mls", "mls_listing_id")

  /** The asg_* bookkeeping columns window-2 re-derives per key
    * (curated.py:144-159): max over all versions, minus create_timestamp
    * which takes the min; load_status additionally coalesces to 'Null'. */
  private val asgRecomputeMax = Seq("asg_primary_id",
    "asg_primary_id_final_flag", "asg_primary_id_source",
    "asg_primary_id_source_queried_timestamp",
    "asg_primary_id_source_responded_flag", "asg_primary_id_issue_text",
    "asg_primary_id_mssql_fixed_flag", "asg_primary_id_updated_flag",
    "asg_primary_id_updated_timestamp", "asg_primary_id_previous_value",
    "asg_primary_id_load_status")

  /** The 9 asg_* columns dropped from the ORC mirror (curated.py:360) —
    * the mirror keeps only asg_primary_id + its final flag. */
  private[mls] val mirrorDropped = Seq("asg_primary_id_source",
    "asg_primary_id_source_queried_timestamp",
    "asg_primary_id_source_responded_flag", "asg_primary_id_issue_text",
    "asg_primary_id_mssql_fixed_flag", "asg_primary_id_updated_flag",
    "asg_primary_id_updated_timestamp", "asg_primary_id_previous_value",
    "asg_primary_id_load_status")

  /** `<output>` → sibling `<output>_delta` (curated.py:418-420). */
  def deltaDirOf(listingsOutputDir: String): String = {
    val p = java.nio.file.Paths.get(listingsOutputDir)
    val parent = Option(p.getParent).map(_.toString).getOrElse(".")
    s"$parent/${p.getFileName}_delta"
  }

  /** Window-1 ordering (curated.py:141): most recent snapshot wins;
    * `desc(_from)` is appended by [[LatestWins.dedupe]]. */
  private val window1Ordering: Seq[Column] = Seq(
    col("source_as_of_date").desc, col("listing_date").desc,
    col("entry_date").asc, col("load_date").desc)

  /** The property-id mode → WHERE branch table (curated.py:199-209). The
    * reference's branches also test `_from = 'new'`, which is vacuous
    * here: every row surviving window 1 IS a new row. */
  private def modeFilter(modes: Seq[String]): Column = {
    val status = col("asg_primary_id_load_status")
    val queried = col("asg_primary_id_source_queried_timestamp")
    modes.map {
      case "New"         => status === "Null" && queried.isNull
      case "Null"        => status === "Null" && queried.isNotNull
      case "Provisional" => status === "Provisional"
      case "Final"       => status === "Final"
      case other => throw new IllegalArgumentException(s"mode '$other'")
    }.reduce(_ || _)
  }

  /** Priority-ordered lookup budget (curated.py:211-227): never-tried
    * sources first (`desc_nulls_first`), then the load-status rank, then
    * the responded flag, then the key tiebreak. */
  private[mls] def budget(toLookup: DataFrame, limit: Int): DataFrame =
    toLookup
      .withColumn("_asg_primary_id_load_status_num", expr(
        "CASE WHEN asg_primary_id_load_status = 'Null' AND " +
          "asg_primary_id_source_queried_timestamp IS NULL THEN 0 " +
          "WHEN asg_primary_id_load_status = 'Null' AND " +
          "asg_primary_id_source_queried_timestamp IS NOT NULL THEN 1 " +
          "WHEN asg_primary_id_load_status = 'Provisional' THEN 2 " +
          "WHEN asg_primary_id_load_status = 'Final' THEN 3 END"))
      .orderBy(col("asg_primary_id_source").desc_nulls_first,
        col("_asg_primary_id_load_status_num").asc_nulls_first,
        col("asg_primary_id_source_responded_flag").asc_nulls_first,
        col("mls").asc, col("mls_listing_id").asc)
      .limit(limit)
      .drop("_asg_primary_id_load_status_num")

  /** One full Job-1 run. Returns the managed-table root so callers/specs
    * can read the published state; counts are the caller's choice (the
    * reference logs, it does not count). `clientOverride` lets specs
    * inject a deterministic lookup client; production builds the real
    * [[HttpLookupClient]] from the endpoint/sleep flags. */
  def runJob1(spark: SparkSession, a: JobsCliArgs,
              asOf: Column = current_date(),
              now: Column = current_timestamp(),
              clientOverride: Option[BatchLookup.LookupClient] = None)
      : String = {
    JobsCli.requireRealPipelineFlags(a)
    val deltaRoot = deltaDirOf(a.listingsOutputDir)

    // ---- read inputs (curated.py:70-96) --------------------------------
    val listings = readWindowedListings(spark, a)
    val boards = graft.sources.TableIO.readStatic(spark, format = "orc", path = a.inputDirBoards.get)
    val states = graft.sources.TableIO.readStatic(spark, format = "orc", path = a.inputDirStates.get)
    val zipcodes = graft.sources.TableIO.readStatic(spark, format = "orc", path = a.inputDirZipcodes.get)
    val psub = graft.sources.TableIO.readStatic(spark, format = "orc", path = a.inputDirPropertySubTypes.get)
    val counties = graft.sources.TableIO.readStatic(spark, format = "orc", path = a.inputDirCounties.get)
    val geoIds = graft.sources.TableIO.readStatic(spark, format = "orc", path = a.inputDirGeoIds.get)
    val targetSchema = SchemaLoader.fromFile(a.targetSchemaFile.get)

    // ---- validate + transform (curated.py:110-117) ---------------------
    val (good, rejected) = MlsValidate.validateListings(
      listings, boards, states, zipcodes, psub)
    // LAZY lineage truncation, same as the e2e gates (MlsJob1Gate.job1E2e):
    // the run fires several actions over this frame (the outdated-reject
    // dump and the merge), and without the checkpoint each one re-analyzes
    // AND re-executes the many-thousand-expression transform tree. Lazy:
    // the plan is truncated at analysis time, the blocks persist inside
    // whichever action computes them first.
    val fresh = MlsFullTransform.transformKeeping(targetSchema, Nil)(
      good, counties, geoIds, asOf, now)
      .localCheckpoint(eager = false)

    // ---- union with curated + the two windows (curated.py:120-189) -----
    val curated: DataFrame =
      if (ManagedTable.exists(deltaRoot))
        ManagedTable.read(spark, deltaRoot)
          .select(targetSchema.fieldNames.toIndexedSeq.map(col): _*)
      else fresh.limit(0)
    // dd.outdated carries each losing row's ORIGINAL bookkeeping values
    // (LatestWins applies the min/max recompute to winners only), matching
    // the reference's reject dump exactly (curated.py:184-189).
    val dd = LatestWins.dedupe(fresh, curated, keys, window1Ordering,
      recomputeMin = Seq("create_timestamp"),
      recomputeMax = asgRecomputeMax)
    // Lazy-checkpointed for the same reason: the merge action's DAG
    // references this frame up to three times (the mode-filter/budget
    // branch, the attach join's probe side, and the final projection) —
    // truncation plans the window subtree once, not once per reference.
    val latest = dd.latest.withColumn("asg_primary_id_load_status",
      coalesce(col("asg_primary_id_load_status"), lit("Null")))
      .localCheckpoint(eager = false)

    // ---- property-id lookup (curated.py:194-271) -----------------------
    val resolved: DataFrame = a.propertyIdSource match {
      case "NONE" => latest
      case source =>
        val toLookup0 = latest.filter(modeFilter(a.propertyIdModes))
        val toLookup = a.propertyIdLimit.fold(toLookup0)(budget(toLookup0, _))
        val lookup: Option[DataFrame] = source match {
          case "API" =>
            val client = clientOverride.getOrElse(new HttpLookupClient(
              a.propertyIdApiEndpoint.get,
              throttleMillis = (a.propertyIdApiSleep * 1000).toLong))
            MlsEnrich.lookupPropertyIds(spark, toLookup, client,
              a.propertyIdApiBatchSize)
          case "MSSQL" =>
            MlsEnrich.lookupPropertyIdsFromMssql(toLookup,
              graft.sources.TableIO.readStatic(spark, format = "orc", path = a.inputDirListingsMssql.get),
              graft.sources.TableIO.readStatic(spark, format = "orc", path = a.inputDirPropertyMasterMssql.get))
        }
        // Inner-joining the FULL latest set against the lookup rows
        // touches exactly the budgeted keys (lkp keys ⊆ toLookup keys),
        // so one attach covers the reference's subset-join + union.
        lookup.fold(latest)(MlsEnrich.attachPropertyIds(latest, _, now))
    }
    val finalDf =
      resolved.select(targetSchema.fieldNames.toIndexedSeq.map(col): _*)

    // ---- reject legs (curated.py:287-309) ------------------------------
    if (a.logRejectedRecords) {
      val rejectDir = a.rejectDataDir.get
      TableIO.writeJsonLines(rejected, rejectDir)
      TableIO.writeJsonLines(
        dd.outdated.withColumn("_reject_reasons", lit("Outdated record")),
        rejectDir, append = true)
    }

    // ---- merge + mirror + vacuum (curated.py:316-368) ------------------
    if (!ManagedTable.exists(deltaRoot))
      VersionedLayout.withUserMetadata("Create empty listings delta table") {
        ManagedTable.createEmpty(spark, deltaRoot, finalDf)
      }
    VersionedLayout.withUserMetadata(
      s"job=listings_curated from=${a.fromDate} to=${a.toDate}") {
      ManagedTable.merge(spark, deltaRoot, finalDf, keys)
    }
    ManagedTable.writeOrcMirror(spark, deltaRoot, a.listingsOutputDir,
      a.numOutputFiles, drop = mirrorDropped)
    a.vacuumHrs.foreach(h => ManagedTable.vacuum(deltaRoot, retainHours = h))
    deltaRoot
  }

  /** Positional unionAll of the input dirs, each window-filtered on
    * load_date BEFORE the union so the filter reaches every ORC scan
    * (curated.py:70-77, hist:61-67 — identical in both drivers). */
  private def readWindowedListings(spark: SparkSession,
                                   a: JobsCliArgs): DataFrame =
    a.inputDirListings.map { d =>
      val df = graft.sources.TableIO.readStatic(spark, format = "orc", path = d).filter(
        col("load_date").between(lit(a.fromDateIso), lit(a.toDateIso)))
      a.inputMlsList.fold(df)(codes => df.filter(col("mls").isin(codes: _*)))
    }.reduce(_ union _)

  /** One full Job-2 (listings HISTORY) run behind the reference's hist
    * argv surface (mls_listings_hist_curated.py:55-226): read the
    * window-filtered input dirs + dims + hist schema file → validate
    * (rejects discarded — the hist job logs nothing) → hist-schema
    * transform → union with the CURRENT ORC MIRROR tagged 'curated'
    * (hist:109-121 — the union side is the mirror, NOT the delta table)
    * → hist-grain dedup with min(create_timestamp) recompute → lead()
    * `*_old` columns + `<=>` changed flags → the three-way MERGE into the
    * `_delta` sibling (update-when-changed / DELETE-when-no-driving-change
    * / insert-when-changed, hist:184-210) → overwrite the ORC mirror from
    * the delta state → retention vacuum. Returns the delta root. */
  def runJob2(spark: SparkSession, a: JobsCliArgs,
              asOf: Column = current_date(),
              now: Column = current_timestamp()): String = {
    val histOut = a.listingsHistOutputDir.getOrElse(
      throw new IllegalArgumentException("missing --listings_hist_output_dir"))
    val deltaRoot = deltaDirOf(histOut)
    val listings = readWindowedListings(spark, a)
    val boards = graft.sources.TableIO.readStatic(spark, format = "orc", path = a.inputDirBoards.get)
    val states = graft.sources.TableIO.readStatic(spark, format = "orc", path = a.inputDirStates.get)
    val zipcodes = graft.sources.TableIO.readStatic(spark, format = "orc", path = a.inputDirZipcodes.get)
    val psub = graft.sources.TableIO.readStatic(spark, format = "orc", path = a.inputDirPropertySubTypes.get)
    val counties = graft.sources.TableIO.readStatic(spark, format = "orc", path = a.inputDirCounties.get)
    val geoIds = graft.sources.TableIO.readStatic(spark, format = "orc", path = a.inputDirGeoIds.get)
    val targetSchema = SchemaLoader.fromFile(a.targetSchemaFile.get)

    val (good, _) = MlsValidate.validateListings(
      listings, boards, states, zipcodes, psub)
    // Same lazy lineage truncation as runJob1 (see the comment there).
    val fresh = MlsFullTransform.transformKeeping(targetSchema, Nil)(
      good, counties, geoIds, asOf, now)
      .localCheckpoint(eager = false)

    // hist:109-116 — try the mirror, fall back to new-only on first run.
    val curated: Option[DataFrame] =
      scala.util.Try(graft.sources.TableIO.readStatic(spark, format = "orc", path = histOut)
        .select(targetSchema.fieldNames.toIndexedSeq.map(col): _*)).toOption
    val source = MlsJob2Gate.histFinal(fresh, curated,
        targetSchema.fieldNames.toSeq)
      .localCheckpoint(eager = false)

    if (!ManagedTable.exists(deltaRoot))
      VersionedLayout.withUserMetadata(
        "Create empty listings hist delta table") {
        ManagedTable.createEmpty(spark, deltaRoot,
          source.drop("_insert_update_flag"))
      }
    // Plain (non-null-safe) key equality, exactly hist:185 — rows whose
    // source_as_of_date the sanitizer nulled never match and re-insert.
    ManagedTable.merge(spark, deltaRoot, source, MlsJob2Gate.grainKeys,
      MlsJob2Gate.histMergeSpec, nullSafeKeys = false)
    ManagedTable.writeOrcMirror(spark, deltaRoot, histOut, a.numOutputFiles)
    a.vacuumHrs.foreach(h => ManagedTable.vacuum(deltaRoot, retainHours = h))
    deltaRoot
  }

  /** One full Job-3 (property-id BACKFILL) run behind the reference's
    * backfill argv surface (propid_backfill.py:60-236): bootstrap the
    * delta table from the ORC dir on first run (adding the 11 asg_*
    * placeholders when absent, load_status = 'Null') → candidate filters
    * (optional mls list, optional load_date window, required load-status
    * modes) → the prioritized `orderBy().limit()` budget when
    * `--backfill_limit` is set → API (HTTP) or MSSQL lookup → inner-join
    * attach recomputing the 11 asg_* columns (`asg_primary_id` LAST) →
    * MERGE on (mls, mls_listing_id), update-only-when-`<=>`-changed plus
    * the reference's unconditional not-matched insert → optional ORC
    * mirror overwrite → retention vacuum. Returns the delta root. */
  def runJob3(spark: SparkSession, a: JobsCliArgs,
              now: Column = current_timestamp(),
              clientOverride: Option[BatchLookup.LookupClient] = None)
      : String = {
    val deltaRoot = a.listingsDeltaDir.getOrElse(
      throw new IllegalArgumentException("missing --listings_delta_dir"))
    val targetSchema = SchemaLoader.fromFile(a.targetSchemaFile.get)
    if (!ManagedTable.exists(deltaRoot)) {
      val orc0 = graft.sources.TableIO.readStatic(spark, format = "orc", path = a.listingsOrcDir.get)
      val boot0 =
        if (orc0.columns.contains("asg_primary_id")) orc0
        else MlsJob3Gate.addAsgPlaceholders(orc0)
      VersionedLayout.withUserMetadata("Create listings delta table") {
        ManagedTable.overwrite(deltaRoot,
          boot0.select(targetSchema.fieldNames.toIndexedSeq.map(col): _*))
      }
    }
    val cur0 = ManagedTable.read(spark, deltaRoot)
    val cur = a.inputMlsList.fold(cur0)(m => cur0.filter(col("mls").isin(m: _*)))
    // Candidate filters + budget share the gate's exact column logic;
    // without a limit the mode/date filter set goes to lookup whole.
    val cand = a.backfillLimit match {
      case Some(n) =>
        MlsJob3Gate.candidates(cur, a.backfillRangeIso, a.propertyIdModes, n)
      case None =>
        val dated = a.backfillRangeIso.fold(cur) { case (lo, hi) =>
          cur.filter(s"""load_date between "$lo" and "$hi"""") }
        dated.filter(col("asg_primary_id_load_status")
          .isin(a.propertyIdModes: _*))
    }
    val lookup: Option[DataFrame] = a.propertyIdSource match {
      case "API" =>
        val client = clientOverride.getOrElse(new HttpLookupClient(
          a.propertyIdApiEndpoint.get,
          throttleMillis = (a.propertyIdApiSleep * 1000).toLong))
        MlsEnrich.lookupPropertyIds(spark, cand, client,
          a.propertyIdApiBatchSize)
      case "MSSQL" =>
        MlsEnrich.lookupPropertyIdsFromMssql(cand,
          graft.sources.TableIO.readStatic(spark, format = "orc", path = a.inputDirListingsMssql.get),
          graft.sources.TableIO.readStatic(spark, format = "orc", path = a.inputDirPropertyMasterMssql.get))
    }
    val enriched = MlsJob3Gate.attach(cand,
      lookup.getOrElse(throw new IllegalStateException(
        "property id lookup returned no frame")), now)
    val changedAny = !MlsJob3Gate.asgCols
      .map(c => col(s"t.$c") <=> col(s"s.$c")).reduce(_ && _)
    // updateWhen changed-only; insertWhen None = the reference's plain
    // `when not matched then insert *` (vacuous here — source ⊆ table —
    // but kept for clause parity, backfill:205-212).
    ManagedTable.merge(spark, deltaRoot, enriched, keys,
      MergeClauses.Spec(updateWhen = Some(changedAny)))
    if (a.overwriteOrcLocation)
      ManagedTable.writeOrcMirror(spark, deltaRoot, a.listingsOrcDir.get,
        a.numOutputOrcFiles, drop = mirrorDropped)
    a.vacuumHrs.foreach(h => ManagedTable.vacuum(deltaRoot, retainHours = h))
    deltaRoot
  }

  def main(argv: Array[String]): Unit = {
    val a = JobsCli.parse(argv.toIndexedSeq)
    // Shared engine defaults (graft.GraftSession) so the production CLI
    // runs the same engine configuration Bench times and Verify certifies.
    val spark = graft.GraftSession.builder()
      .appName("MLS Listings Curated")
      .config("spark.sql.shuffle.partitions", a.shufflePartitions.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel(if (a.debug) "INFO" else "WARN")
    val root = runJob1(spark, a)
    val curated = ManagedTable.read(spark, root)
    println(s"""{"curated_rows":${curated.count()},""" +
      s""""curated_version":${ManagedTable.currentVersion(root)}}""")
    spark.stop()
  }
}
