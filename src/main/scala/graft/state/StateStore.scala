package graft.state

import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDate, ZoneOffset}

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}

import graft.catalog.InventoryRow
import graft.model.CheckObject
import graft.tables.GenerationStore

/** Persistent check-history state (SURVEY.md §7.1 step 4) — the lake
  * re-expression of `dbo.CheckTableObjects` + its MERGE
  * (ref IntegrityChecks_VLDB.sql:41-65, 454-484, 700-722).
  *
  * State is one row per table, so it is driver-small by construction even
  * at 100 TB of data under check (100k tables → 100k rows). Persistence is
  * one parquet generation committed through [[GenerationStore]] under its
  * writer lease, so a second driver on the same path fails loudly and a
  * killed run never leaves a half-written history; the MERGE itself is
  * pure Scala over the loaded rows, with identical semantics to the
  * reference's 3 clauses.
  */
final class StateStore(spark: SparkSession, path: String)
    extends GenerationStore.Leased {
  import spark.implicits._

  protected val gen = new GenerationStore(spark, path, "StateStore")

  /** The newest complete generation's rows; empty before the first
    * save. */
  def load(): Seq[CheckObject] =
    gen.load(spark.read.parquet(_))
      .fold(Seq.empty[CheckObject])(_.as[CheckObject].collect().toSeq)

  def save(rows: Seq[CheckObject]): Unit = withLease {
    val ds: Dataset[CheckObject] = rows.toDS()
    gen.commit(StateStore.Meta)(
      ds.coalesce(1).write.mode(SaveMode.Overwrite).parquet(_))
  }
}

object StateStore {
  private[state] val Meta = """{"format":1}"""

  /** The 3-clause MERGE (ref IC:454-484):
    *  - MATCHED            → refresh size/type, re-activate
    *  - NOT MATCHED        → insert fresh (id continues the sequence)
    *  - NOT MATCHED BY SOURCE → soft-delete (active=false), stats kept
    */
  def reconcile(state: Seq[CheckObject], scan: Seq[InventoryRow])
      : Seq[CheckObject] = {
    val key = (o: CheckObject) => (o.database_name, o.schema_name, o.object_name)
    val scanByKey = scan.map(r =>
      (r.database_name, r.schema_name, r.object_name) -> r).toMap
    val stateKeys = state.map(key).toSet
    var nextId = (state.map(_.id) :+ 0L).max

    val updatedOrDeactivated = state.map { o =>
      scanByKey.get(key(o)) match {
        case Some(r) => o.copy(used_page_count = r.used_page_count,
          object_type = r.object_type, active = true)
        case None => o.copy(active = false)
      }
    }
    val inserted = scan
      .filterNot(r => stateKeys((r.database_name, r.schema_name, r.object_name)))
      .map { r =>
        nextId += 1
        CheckObject.fresh(nextId, r.database_name, "U", r.schema_name,
          r.object_name, r.object_type, r.used_page_count)
      }
    updatedOrDeactivated ++ inserted
  }

  /** Post-run stat update (ref IC:700-722): shuffles current run into the
    * Previous* columns, bumps the execution count, and folds the duration
    * into the running average with the reference's exact recurrence
    * `avg += (new - avg) / n` (integer arithmetic, ref IC:706). */
  def recordRun(o: CheckObject, command: String, start: Instant, end: Instant)
      : CheckObject = {
    val durationMs = end.toEpochMilli - start.toEpochMilli
    val n = o.number_of_executions + 1
    val newAvg = o.avg_run_duration_ms + (durationMs - o.avg_run_duration_ms) / n
    o.copy(
      previous_run_date = o.start_time,
      previous_run_duration_ms = o.run_duration_ms,
      start_time = Some(Timestamp.from(start)),
      end_time = Some(Timestamp.from(end)),
      run_duration_ms = durationMs,
      command = command,
      number_of_executions = n,
      avg_run_duration_ms = newAvg,
      last_check_date = Date.valueOf(
        LocalDate.ofInstant(start, ZoneOffset.UTC)))
  }

  /** Daily idempotence predicate (ref IC:664-665): a row is due when its
    * last check date differs from the job's start date. */
  def isDueOn(o: CheckObject, jobStart: Instant): Boolean =
    o.last_check_date.toLocalDate != LocalDate.ofInstant(jobStart, ZoneOffset.UTC)
}
