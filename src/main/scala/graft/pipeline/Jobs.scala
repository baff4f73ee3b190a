package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{ManagedTable, MergeClauses, TableIO}

/** The three job drivers, mirroring the reference's programs structurally
  * (SURVEY §3.1-3.3) but parameterized by schema/keys/rules instead of
  * hard-coding the 133-column MLS shape. Each is a thin composition of the
  * engine pieces: Validation → LatestWins → Merge/ManagedTable → sinks.
  */
object Jobs {

  /** Job 1 — curated SCD-1 (reference: mls_listings_curated.py):
    * validate → union-with-current latest-wins dedup → quarantine rejected
    * and outdated as JSON-lines → MERGE winners into the managed table →
    * optional ORC mirror. */
  final case class CuratedConfig(
      tableRoot: String,
      keys: Seq[String],
      ordering: Seq[Column],
      recomputeMin: Seq[String] = Nil,
      recomputeMax: Seq[String] = Nil,
      rejectedDir: Option[String] = None,
      orcMirrorDir: Option[String] = None,
      numOutputFiles: Option[Int] = None, // None = sized by bytes
      vacuumHrs: Option[Double] = None) // reference --vacuum_hrs (curated.py:366-368)

  def runCurated(spark: SparkSession, input: DataFrame,
                 rules: Seq[Validation.Rule], cfg: CuratedConfig): Unit = {
    val split = Validation.validate(input, rules)
    if (!ManagedTable.exists(cfg.tableRoot))
      ManagedTable.createEmpty(spark, cfg.tableRoot, split.good)
    val current = ManagedTable.read(spark, cfg.tableRoot)
    val dd = LatestWins.dedupe(split.good, current, cfg.keys, cfg.ordering,
      cfg.recomputeMin, cfg.recomputeMax)
    cfg.rejectedDir.foreach { d =>
      TableIO.writeJsonLines(split.rejected, s"$d/rejected")
      TableIO.writeJsonLines(dd.outdated, s"$d/outdated")
    }
    ManagedTable.merge(spark, cfg.tableRoot, dd.latest, cfg.keys)
    cfg.orcMirrorDir.foreach(d => ManagedTable.writeOrcMirror(spark,
      cfg.tableRoot, d, cfg.numOutputFiles))
    // retention-duration vacuum after publish, as the reference runs it
    cfg.vacuumHrs.foreach(h =>
      ManagedTable.vacuum(cfg.tableRoot, retainHours = h))
  }

  /** Job 2 — history change log (reference: mls_listings_hist_curated.py):
    * dedupe at snapshot grain, derive `*_old` + changed flags via lead(),
    * then the three-way MERGE: update when matched AND changed, DELETE when
    * matched and no driving change, insert when new AND changed. */
  /** @param compare per-column change comparison override (the reference
    *   compares current_price at whole-dollar grain, hist:152)
    * @param matchGuardCols when non-empty, matched rows only update if at
    *   least one of these columns null-safe-differs from the stored state
    *   (the reference guards on tracked + *_old + *_changed_flag,
    *   hist:188-192)
    * @param nullSafeKeys false = the reference's plain `=` merge-ON
    *   (hist:185): null-keyed snapshots never match and re-insert */
  final case class HistoryConfig(
      tableRoot: String,
      keys: Seq[String],          // includes the snapshot/version column
      versionOrder: Seq[Column],  // newest-first within the entity
      entityKeys: Seq[String],    // grain without the snapshot column
      tracked: Seq[String],
      compare: Map[String, (Column, Column) => Column] = Map.empty,
      matchGuardCols: Seq[String] = Nil,
      nullSafeKeys: Boolean = true)

  def runHistory(spark: SparkSession, input: DataFrame, cfg: HistoryConfig): Unit = {
    if (!ManagedTable.exists(cfg.tableRoot)) {
      val shaped = LatestWins.changeFlags(input, cfg.entityKeys,
        cfg.versionOrder, cfg.tracked, compare = cfg.compare)
      ManagedTable.createEmpty(spark, cfg.tableRoot, shaped)
    }
    // The stored table carries the derived *_old/flag columns; strip them
    // before re-deriving over the full new ∪ current version set.
    val derived = (c: String) => c.endsWith("_old") ||
      c.endsWith("_changed_flag") || c == "_insert_update_flag"
    val current = ManagedTable.read(spark, cfg.tableRoot)
    val bare = current.drop(current.columns.filter(derived).toIndexedSeq: _*)
    val winners = LatestWins.dedupeAll(input, bare, cfg.keys, cfg.versionOrder)
    val flagged = LatestWins.changeFlags(winners, cfg.entityKeys,
      cfg.versionOrder, cfg.tracked, compare = cfg.compare)
    val sameStored = cfg.matchGuardCols
      .map(c => col(s"t.$c") <=> col(s"s.$c"))
      .reduceOption(_ && _)
    val updateWhen = sameStored match {
      case Some(same) => col("s._insert_update_flag") && !same
      case None       => col("s._insert_update_flag")
    }
    ManagedTable.merge(spark, cfg.tableRoot,
      flagged, cfg.keys,
      MergeClauses.Spec(
        updateWhen = Some(updateWhen),
        deleteWhen = Some(!col("s._insert_update_flag")),
        insertWhen = Some(col("s._insert_update_flag"))),
      cfg.nullSafeKeys)
  }

  /** Job 3 — enrichment backfill (reference:
    * mls_listings_curated_propid_backfill.py): select candidates (filter +
    * prioritized top-k budget), look them up in batches, inner-join results
    * back, MERGE update-only-when-changed via null-safe inequality. */
  final case class BackfillConfig(
      tableRoot: String,
      keys: Seq[String],
      candidateFilter: Column,
      priority: Seq[Column],
      budget: Option[Int],
      enrichedCols: Seq[String])

  def runBackfill(spark: SparkSession,
                  enrich: DataFrame => DataFrame, cfg: BackfillConfig): Unit = {
    val current = ManagedTable.read(spark, cfg.tableRoot)
    val candidates0 = current.filter(cfg.candidateFilter)
    val candidates = cfg.budget match {
      case Some(n) => candidates0.orderBy(cfg.priority: _*).limit(n)
      case None    => candidates0
    }
    val enriched = enrich(candidates)
    val changed = cfg.enrichedCols
      .map(c => !(col(s"t.$c") <=> col(s"s.$c")))
      .reduce(_ || _)
    ManagedTable.merge(spark, cfg.tableRoot, enriched, cfg.keys,
      MergeClauses.Spec(updateWhen = Some(changed), insertWhen = Some(lit(false))))
  }
}
