package graft.star

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.etl.Silver
import graft.schema.Schemas

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import graft.util.Exec

/** The warehouse load, end-to-end (reference `load_lambda/main.py:83-113` +
  * `update_dims.sql`): staging truncate-insert (U3), then the 11-statement
  * star population in dependency order (SURVEY.md §3.3) — independent simple
  * dims → city (needs state) → make → model (needs make) → vehicle (needs 4
  * dims, upsert U2) → fact (needs everything, insert-only U1).
  *
  * The reference's single Postgres transaction becomes write ordering over
  * idempotent steps (U1 anti-join / U2 keyed upsert make re-runs safe —
  * SURVEY.md §4).
  */
object StarLoad {

  // dedicated pool, NOT ExecutionContext.global — see graft.util.Exec
  private implicit val ec: ExecutionContext = Exec.loadEc

  /** U3 + P5 + A4 (L:84-107): project the warehouse columns and keep-newest
    * per auction_id, PERSISTED (MEMORY_AND_DISK) so the eleven load steps
    * read memory blocks, not the staging table: [[run]] overlaps the staging
    * dump with the vehicle+fact tail. Caller unpersists. */
  private def stagedFrame(processed: DataFrame): DataFrame =
    Silver.keepNewest(processed.select(Schemas.insertColumns.map(col): _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The dim phase as TWO fused passes: the seven single-key dims (six
    * simple + make) in one staging scan ([[Dims.loadSimpleDimsFused]]),
    * then city + model — the two compound-key dims — in a second
    * ([[Dims.loadCompoundDimsFused]], which must see the just-loaded make
    * dim). Nine per-dim DISTINCT scans of staging become two; the driver
    * action count drops ~20 → ~11. Results are identical to the per-dim
    * chains: each dim's candidate set, key order, and id offsets are
    * preserved (q44/q49 hash-verified).
    *
    * Run under latency-tuned session conf: AQE's per-stage
    * materialization barrier and a per-core shuffle fan-out only add driver
    * round-trips to these small actions over bounded deltas with fully
    * static plans (explicit broadcasts, DISTINCT on tiny key sets) —
    * measured ~20% of composed-load wall time at sf0.1. Fact-scale stages
    * are NOT run under this: they keep AQE's runtime skew/broadcast
    * decisions, which DO matter at warehouse scale. */
  private def dimPhaseTuned(wh: Warehouse, staging: DataFrame): Unit = {
    val aqeKey = "spark.sql.adaptive.enabled"
    val shufKey = "spark.sql.shuffle.partitions"
    val aqeWas = wh.spark.conf.get(aqeKey)
    val shufWas = wh.spark.conf.get(shufKey)
    try {
      wh.spark.conf.set(aqeKey, "false")
      wh.spark.conf.set(shufKey, "8")
      Dims.loadSimpleDimsFused(wh, staging)
      Dims.loadCompoundDimsFused(wh, staging)
    } finally {
      wh.spark.conf.set(aqeKey, aqeWas)
      wh.spark.conf.set(shufKey, shufWas)
    }
  }

  /** The vehicle + fact tail: the fact's vehicle resolution consumes the
    * merged in-memory frame (sufficient for all currently-staged keys — see
    * [[Facts.mergedVehicleDim]]) while the bucket write streams to disk
    * concurrently. */
  private def vehicleFactTail(wh: Warehouse, staging: DataFrame): Unit = {
    val (mergedVehicle, prevMax) = Facts.mergedVehicleDim(wh, staging)
    val writeF = Future(Facts.writeVehicleDim(wh, mergedVehicle, prevMax))
    Facts.insertAuctionFact(wh, staging, Some(mergedVehicle))
    Await.result(writeF, Duration.Inf)
  }

  /** Full star load from a processed/silver frame. `staging` is cached for
    * the duration — all 11 load steps scan it, and at warehouse scale
    * re-reading the staging table per step is the dominant repeated cost. */
  def run(wh: Warehouse, processed: DataFrame): Unit = {
    StateSeed.ensureSeeded(wh)
    val staging = stagedFrame(processed)
    try {
      // no explicit materialization action: the dim phase is now serial-
      // within (two fused passes), so its FIRST action materializes the
      // staging cache before anything fans out — the cold-cache race
      // (Spark's block cache has no per-partition compute lock; concurrent
      // jobs each recompute the keepNewest window, measured 2× load wall
      // time at local[32]) needs concurrency to bite, and the staging-dump
      // future only starts after the dim phase below
      dimPhaseTuned(wh, staging)
      // the staging TABLE dump (U3 semantics) overlaps the vehicle+fact
      // tail — NOT the dim phase: dimPhaseTuned mutates session conf, and a
      // concurrent write planning inside that window would silently pick up
      // the latency conf. The tail never touches conf, so the overlap is
      // safe here; every load step reads the materialized frame, never the
      // table.
      val stagingWrite = Future(wh.truncateInsert("staging", staging))
      vehicleFactTail(wh, staging)
      Await.result(stagingWrite, Duration.Inf)
    } finally {
      staging.unpersist()
      ()
    }
  }
}
