package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.enrich.{HttpLookupClient, StubPropertyServer}
import graft.pipeline.JobsCli
import graft.pipeline.mls.{MlsFullTransform, MlsJobsMain, MlsValidate}
import graft.schema.SchemaLoader
import graft.sources.{ManagedTable, TableIO}

/** The daily MLS loop. Set-up bootstraps the curated and history tables
  * from the base batch (day 0: Job 1, Job 2, Job 3); op `i` curates day
  * `i + 1`: `runJob1` with property ids from the in-process stub service
  * under a `--property_id_limit` budget, then `runJob2`, then the `runJob3`
  * backfill. Every other flag keeps its CLI default. */
final class MlsDaily(spark: SparkSession, input: String, work: String,
                     meta: JsonNode) extends Workload {
  private val server = new StubPropertyServer()
  private val days = meta.get("days")
  private val dailyRows = meta.get("daily_rows").asInt
  private val root = s"$work/mls"

  private def date(d: Int) = days.get(d).get("load_date").asText
  private def ymd(d: Int) = date(d).replace("-", "")
  private def dims: Seq[String] = Seq(
    "--input_dir_boards", s"$input/dim_boards",
    "--input_dir_states", s"$input/dim_states",
    "--input_dir_zipcodes", s"$input/dim_zipcodes",
    "--input_dir_property_sub_types", s"$input/dim_psub",
    "--input_dir_counties", s"$input/dim_counties",
    "--input_dir_geo_ids", s"$input/dim_geo_ids")
  private def window(d: Int) = Seq("--from_date", ymd(d), "--to_date", ymd(d),
    "--input_dir_listings", s"$input/listings/${date(d)}")

  private def curatedOut = s"$root/curated"
  private def histOut = s"$root/hist"
  private def rejects(d: Int) = s"$root/rejects/${date(d)}"

  private def job1(d: Int, limit: Int) = JobsCli.parse(window(d) ++ dims ++ Seq(
    "--listings_output_dir", curatedOut,
    "--target_schema_file", s"$input/mls_listings_schema.json",
    "--reject_data_dir", rejects(d), "--log_rejected_records",
    "--property_id_source", "API",
    "--property_id_api_endpoint", server.lookupUrl,
    "--property_id_limit", limit.toString))
  private def job2(d: Int) = JobsCli.parseHist(window(d) ++ dims ++ Seq(
    "--listings_hist_output_dir", histOut,
    "--target_schema_file", s"$input/mls_listings_hist_schema.json",
    "--log_dir", s"$root/logs"))
  private def job3 = JobsCli.parseBackfill(Seq(
    "--listings_delta_dir", MlsJobsMain.deltaDirOf(curatedOut),
    "--listings_orc_dir", curatedOut,
    "--property_id_source", "API",
    "--property_id_api_endpoint", server.lookupUrl,
    "--property_id_modes", "Null",
    "--target_schema_file", s"$input/mls_listings_schema.json",
    "--log_dir", s"$root/logs"))

  /** The traced run passes a timing wrapper around the same HTTP client
    * `runJob1`/`runJob3` would build from the flags. */
  private def client = if (!Trace.enabled) None
    else Some(new Trace.TimingClient(new HttpLookupClient(server.lookupUrl, throttleMillis = 10L)))

  private def day(d: Int, limit: Int): Unit = {
    Trace.span("mls.job1")(MlsJobsMain.runJob1(spark, job1(d, limit), clientOverride = client))
    Trace.span("mls.job2")(MlsJobsMain.runJob2(spark, job2(d)))
    Trace.span("mls.job3")(MlsJobsMain.runJob3(spark, job3, clientOverride = client))
  }

  def setup(): Unit = {
    day(0, meta.get("base_rows").asInt)
    check(-1, OpResult(0, "day")).foreach(m => throw new IllegalStateException(s"set-up check: $m"))
  }

  override def hasOp(i: Int): Boolean = i + 1 < days.size

  private def liveVersions: Int = tableRoots.map(ManagedTable.currentVersion).sum
  private var firstVersions = 0

  def op(i: Int): OpResult = {
    val d = i + 1
    if (i == 0) firstVersions = liveVersions
    day(d, dailyRows)
    OpResult(days.get(d).get("rows").asLong, "day")
  }

  private val rowHash = Seq(1, 9).map(p => sum(conv(substring(md5(concat_ws("|",
    col("mls"), col("mls_listing_id"),
    date_format(col("source_as_of_date"), "yyyy-MM-dd HH:mm:ss"),
    coalesce(col("asg_primary_id").cast("string"), lit("")))), p, 8), 16, 10)
    .cast("long")))

  /** Curated rows, history rows and the keyed hash of the curated table
    * against the generator's expectation for the day just curated. */
  def check(i: Int, r: OpResult): Option[String] = {
    val e = days.get(i + 1)
    val cur = ManagedTable.read(spark, MlsJobsMain.deltaDirOf(curatedOut))
      .agg(count(lit(1)), rowHash: _*).head()
    val hist = ManagedTable.read(spark, MlsJobsMain.deltaDirOf(histOut)).count()
    val got = (cur.getLong(0), hist, cur.getLong(1), cur.getLong(2))
    val want = (e.get("curated_rows").asLong, e.get("hist_rows").asLong,
      e.get("hash1").asLong, e.get("hash2").asLong)
    if (Trace.enabled && i >= 0) traceDay(i + 1)
    if (got == want) None else Some(s"curated/hist/hash1/hash2 got $got want $want")
  }

  // ---- traced-run extras ---------------------------------------------------

  private val frameBuild = collection.mutable.ArrayBuffer.empty[Double]
  private var rejected = 0L; private var outdated = 0L
  private val mirrorFiles = collection.mutable.ArrayBuffer.empty[(Int, Long)]

  /** Outside the op timer: rebuild the day's validate + transform frame on
    * its own, count the reject legs, and measure the mirrors. */
  private def traceDay(d: Int): Unit = {
    def orc(n: String) = TableIO.readStatic(spark, format = "orc", path = s"$input/dim_$n")
    val t = System.nanoTime()
    val raw = TableIO.readStatic(spark, format = "orc", path = s"$input/listings/${date(d)}")
    val (good, _) = MlsValidate.validateListings(raw, orc("boards"), orc("states"),
      orc("zipcodes"), orc("psub"))
    MlsFullTransform.transformKeeping(
      SchemaLoader.fromFile(s"$input/mls_listings_schema.json"), Nil)(
      good, orc("counties"), orc("geo_ids"), current_date(), current_timestamp()).count()
    frameBuild += (System.nanoTime() - t) / 1e9
    val rj = spark.read.json(rejects(d))
    outdated += rj.filter(col("_reject_reasons") === "Outdated record").count()
    rejected += rj.filter(col("_reject_reasons") =!= "Outdated record").count()
    Seq(curatedOut, histOut).foreach { m =>
      val fs = Fs.filesUnder(Paths.get(m), ".orc")
      mirrorFiles += ((fs.size, fs.map(Files.size).sum))
    }
  }

  private def tableRoots = Seq(curatedOut, histOut).map(MlsJobsMain.deltaDirOf)

  override def storageRatio: Double = {
    val onDisk = (tableRoots ++ Seq(curatedOut, histOut)).map(p => Fs.bytesUnder(Paths.get(p))).sum
    val live = tableRoots.map(r => Fs.bytesUnder(Paths.get(r, s"v${ManagedTable.currentVersion(r)}"))).sum
    onDisk.toDouble / live
  }

  override def finish(): Unit = server.stop()

  override def layers(nOps: Int): Map[String, Double] = {
    import Trace._
    val n = nOps.toDouble
    val deltas = tableRoots
    def cat(j: JobRec): String = Layers.outPath(j) match {
      case Some(p) if deltas.exists(d => p.startsWith(d)) => "managedtable.merge"
      case Some(p) if p.startsWith(curatedOut) || p.startsWith(histOut) => "tableio.mirror_write"
      case Some(p) if p.startsWith(s"$root/rejects") => "mls.reject_write"
      case _ => Layers.spanName(j) // mls.job1..3: the pipeline.mls jobs
    }
    val oj = Layers.opJobs
    val self = Layers.opSpans.filter(!_.end.isNaN).map { s =>
      Layers.selfMs(s, oj.filter(_._1.id == s.id).map(x => (x._2, cat(x._2))))
    }.flatten.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum / 1e3 / n }
    def jobsOf(c: String) = oj.map(_._2).filter(cat(_) == c)
    val mergeBytes = jobsOf("managedtable.merge").flatMap(j => jobTasks.get(j.id)).map(_.output).sum
    val sourceBytes = (1 to nOps).map(d => Fs.bytesUnder(Paths.get(s"$input/listings/${date(d)}"))).sum
    val ops = Layers.opSpans.filter(!_.end.isNaN)
    val opIds = ops.map(_.id).toSet
    def spanS(name: String) = spans.filter(s => s.name == name && opIds(s.op))
      .map(s => s.end - s.start).sum / 1e3 / n
    val versions = deltas.map(r => Fs.versionDirs(Paths.get(r)).size).sum
    val lastMirror = mirrorFiles.takeRight(2)
    val callTimes = Enrich.callTimes.toArray.map(_.asInstanceOf[java.lang.Double].doubleValue).toSeq
    val wall = ops.map(s => s.end - s.start).sum / 1e3 / n
    Map(
      "mls.job1_s" -> spanS("mls.job1"),
      "mls.job2_s" -> spanS("mls.job2"),
      "mls.job3_s" -> spanS("mls.job3"),
      "mls.frame_build_s" -> Layers.median(frameBuild.toSeq),
      "mls.rejected_rows" -> rejected / n,
      "mls.outdated_rows" -> outdated / n,
      "managedtable.merge_s" -> self.getOrElse("managedtable.merge", 0.0),
      "managedtable.merge_bytes_written" -> mergeBytes / n,
      "managedtable.write_amp" -> (if (sourceBytes > 0) mergeBytes.toDouble / sourceBytes else 0.0),
      "managedtable.commits" -> (liveVersions - firstVersions) / n,
      "managedtable.versions_retained" -> versions.toDouble,
      "managedtable.bytes_on_disk" -> deltas.map(r => Fs.bytesUnder(Paths.get(r))).sum.toDouble,
      "tableio.mirror_write_s" -> self.getOrElse("tableio.mirror_write", 0.0),
      "tableio.mirror_files" -> lastMirror.map(_._1).sum.toDouble,
      "tableio.mirror_bytes_per_file" -> (lastMirror.map(_._2).sum.toDouble / math.max(1L, lastMirror.map(_._1).sum)),
      "enrich.calls" -> Enrich.calls.get / n,
      "enrich.rows_per_call" -> Enrich.rows.get.toDouble / math.max(1L, Enrich.calls.get),
      "enrich.call_p50_ms" -> Layers.median(callTimes),
      "enrich.call_s" -> Enrich.callMs.sum / 1e3 / n,
      "enrich.failed_calls" -> Enrich.failed.get / n,
      "self.pipeline_mls_s" -> Seq("mls.job1", "mls.job2", "mls.job3").map(self.getOrElse(_, 0.0)).sum,
      "self.mls_reject_write_s" -> self.getOrElse("mls.reject_write", 0.0),
      "self.op_wall_s" -> wall)
  }
}
