package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.IO

/** The two dbt materializations beyond view/table that a dbt user
  * relies on daily: `incremental` (merge-by-key upsert) and `snapshot`
  * (SCD type-2 change tracking). The reference project only declares
  * view/table (dbt_project.yml:11-17) but its dbt runtime offers both;
  * "switch without losing capabilities" requires them.
  *
  * Scale: both are implemented as key-partitioned merges — one shuffle
  * on the unique key, no driver-side state. At warehouse scale the
  * target would be an ACID table format; here the target is a parquet
  * directory committed through [[IO.commit]] (staged, then swapped in).
  */
object Incremental {

  /** The read-fold-commit step of every fold here: `fold` turns the
    * existing table into the next one, `first` is the table of a first
    * run; the result is committed through [[IO.commit]]. The existence
    * check is [[IO.tableExists]], which fails loudly on a swap that
    * stopped between its delete and its rename. */
  private def foldInto(spark: SparkSession, path: String, first: => DataFrame)(
      fold: DataFrame => DataFrame): DataFrame =
    IO.commit(spark,
      if (IO.tableExists(spark, path)) fold(IO.readParquet(spark, path)) else first, path)

  /** The key-replace step of [[merge]] and [[applyChanges]]: `existing`
    * without the keys of `keysOf`, plus `rows` (batch wins). */
  private def replaceKeys(existing: DataFrame, keysOf: DataFrame, rows: DataFrame,
      uniqueKey: Seq[String]): DataFrame =
    existing.join(keysOf.select(uniqueKey.map(col): _*).distinct(), uniqueKey, "left_anti")
      .unionByName(rows, allowMissingColumns = true)

  /** dbt incremental with merge semantics: rows in `batch` replace
    * existing rows with the same `uniqueKey`; new keys append. First
    * run bootstraps the target.
    *
    * Schema evolution follows dbt's `on_schema_change` contract:
    *  - `ignore` (dbt's default): the TARGET schema is authoritative —
    *    batch columns the target lacks are dropped (their data is
    *    lost, exactly dbt's documented behavior), target columns the
    *    batch lacks fill as NULL for the incoming rows;
    *  - `fail`: any column-set difference aborts with a diagnostic
    *    naming the added/removed columns — the safe policy for
    *    pipelines where silent data loss is worse than a page;
    *  - `append_new_columns`: batch columns missing from the target
    *    are ADDED (existing rows read NULL there); columns the batch
    *    dropped stay in the target and fill as NULL for new rows;
    *  - `sync_all_columns`: adds new columns AND removes departed
    *    ones (the full-sync policy; historical data in removed
    *    columns is dropped).
    * Type changes on a shared column are out of scope for all four
    * policies (as in dbt, where the warehouse's ALTER semantics
    * decide) and surface as a loud analysis error from the union. */
  def merge(spark: SparkSession, batch: DataFrame, path: String,
      uniqueKey: Seq[String],
      onSchemaChange: String = "ignore"): DataFrame = {
    require(Set("ignore", "fail", "append_new_columns",
        "sync_all_columns").contains(onSchemaChange),
      s"unsupported on_schema_change '$onSchemaChange'")
    foldInto(spark, path, batch) { existing =>
      require(uniqueKey.forall(batch.columns.contains) &&
          uniqueKey.forall(existing.columns.contains),
        s"unique_key $uniqueKey must survive the schema change")
      val (keepExisting, keepBatch) =
        resolveSchemaChange(existing, batch, onSchemaChange, path)
      replaceKeys(keepExisting, batch, keepBatch, uniqueKey)
    }
  }

  /** Resolve the two sides of an incremental fold onto the
    * `on_schema_change` policy's target column set (see [[merge]] for
    * the per-policy contract). Identical columns pass through. */
  private def resolveSchemaChange(existing: DataFrame, batch: DataFrame,
      onSchemaChange: String, path: String): (DataFrame, DataFrame) = {
    val added = batch.columns.filterNot(existing.columns.contains).toSeq
    val removed = existing.columns.filterNot(batch.columns.contains).toSeq
    if (onSchemaChange == "fail" && (added.nonEmpty || removed.nonEmpty))
      throw new IllegalStateException(
        s"incremental model at $path: schema changed and " +
          "on_schema_change='fail' — batch adds " +
          s"${added.mkString("[", ",", "]")}, drops " +
          s"${removed.mkString("[", ",", "]")}")
    onSchemaChange match {
      case "append_new_columns" => (existing, batch)
      case "sync_all_columns" => (existing.drop(removed: _*), batch)
      case _ => (existing, batch.drop(added: _*)) // ignore: target wins
    }
  }

  /** dbt's APPEND strategy (no unique_key): a first run commits the
    * batch; a batch with the table's columns in the table's order is a
    * plain parquet append of the batch. A drifted batch folds under the
    * same `on_schema_change` resolution as [[merge]], with no key
    * anti-join, through one commit: a raw parquet append with a
    * different column set would leave a directory whose schema depends
    * on which file a reader samples. */
  private[graft] def append(spark: SparkSession, batch: DataFrame,
      path: String, onSchemaChange: String): DataFrame =
    if (IO.tableExists(spark, path) &&
        IO.readParquet(spark, path).columns.toSeq == batch.columns.toSeq) {
      batch.write.mode("append").parquet(path)
      IO.readParquet(spark, path)
    } else foldInto(spark, path, batch) { existing =>
      val (keepExisting, keepBatch) =
        resolveSchemaChange(existing, batch, onSchemaChange, path)
      keepExisting.unionByName(keepBatch, allowMissingColumns = true)
    }

  /** CDC apply (the "APPLY CHANGES" shape): fold an insert/update/
    * delete change stream into the keyed table at `path`. Within the
    * batch, the row with the highest `seqCol` per key wins (ties to
    * the op string, so replays are deterministic even on malformed
    * feeds); a winning 'D' removes the key, anything else upserts the
    * row. Out-of-order arrival WITHIN a batch is therefore handled;
    * cross-batch ordering is the caller's feed contract, as in every
    * CDC sink.
    *
    * Scale shape: one bounded per-key window over the batch (batch-
    * sized, not table-sized), one anti-join of the base against the
    * batch's key set (broadcastable — change batches are small
    * relative to the table), one union, one commit. The base
    * table is never shuffled. A batch whose columns differ from the
    * table's fails before anything is written.
    */
  def applyChanges(spark: SparkSession, changes: DataFrame, path: String,
      uniqueKey: Seq[String], opCol: String = "op",
      seqCol: String = "seq"): DataFrame = {
    val w = Window.partitionBy(uniqueKey.map(col): _*)
      .orderBy(col(seqCol).desc, col(opCol))
    val latest = changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    val upserts = latest.filter(col(opCol) =!= "D")
      .drop(opCol, seqCol)
    foldInto(spark, path, upserts) { existing =>
      resolveSchemaChange(existing, upserts, "fail", path)
      replaceKeys(existing, latest, upserts, uniqueKey)
    }
  }

  /** Cross-batch-safe CDC fold: like [[applyChanges]], but the applied
    * sequence number is PERSISTED on disk (`__seq`) and deletes are
    * kept as TOMBSTONES (`__deleted`), so a key only ever moves
    * FORWARD in sequence: a late-arriving micro-batch replaying a
    * lower-seq change (an at-least-once feed re-delivery, a lagging
    * partition of a sharded topic) can neither regress a value nor
    * resurrect a deleted key — the two failure modes [[applyChanges]]
    * explicitly leaves to the feed's ordering contract. Ties go to
    * the delete (same determinism rule as applyChanges's op
    * tie-break). Read the live table through [[readCdcTable]].
    *
    * Scale shape: per-key window over the BATCH only, then ONE
    * full-outer join of the base with the batch winners on the key —
    * both sides are unique per key, so resolution is a two-row
    * comparison and the base is scanned once. Tombstones are bounded
    * by the deleted-key count; [[compactGuarded]] drops the ones older
    * than the feed's replay horizon.
    *
    * Schema drift fails loudly: a batch whose columns differ from the
    * table's (either way) throws before the swap, as `merge` does
    * under `on_schema_change='fail'`, and the table stays as it was.
    *
    * Jobs: only the commit's — on an existing table AQE runs the
    * batch's exchange (shared by the window and the key join), the
    * base's exchange and the write as three jobs; when the base and
    * the batch each read as one partition (files of ~4 MB or less),
    * [[graft.plans.ElideSinglePartitionShuffles]] drops both exchanges
    * and the write is the fold's one job. No job resolves a
    * schema: the base read takes its from a footer on the driver
    * ([[graft.sources.IO.readParquet]]) and the commit's re-read
    * the schema it wrote, where a schema-less `spark.read.parquet`
    * would add one job each. */
  def applyChangesGuarded(spark: SparkSession, changes: DataFrame,
      path: String, uniqueKey: Seq[String], opCol: String = "op",
      seqCol: String = "seq"): DataFrame = {
    require(!changes.columns.contains("__seq") &&
        !changes.columns.contains("__deleted"),
      "__seq/__deleted are reserved bookkeeping columns of the guarded fold")
    val w = Window.partitionBy(uniqueKey.map(col): _*)
      .orderBy(col(seqCol).desc, col(opCol))
    val incoming = changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .withColumn("__deleted", col(opCol) === "D")
      .drop(opCol)
      .withColumnRenamed(seqCol, "__seq")
    foldInto(spark, path, incoming) { existing =>
      // a column on one side only would be dropped or null-filled by
      // the fold below: fail before anything is written (both column
      // lists are known on the driver, so the check runs no job)
      resolveSchemaChange(existing, incoming, "fail", path)
      // ONE full-outer join replaces the anti-join + semi-join +
      // union + table-wide window of the previous shape (r19, §2.4):
      // base and batch winner are both UNIQUE per key, so resolution
      // is a two-row comparison, not a window — the base table is
      // scanned once instead of twice and nothing re-sorts. Batch
      // wins on strictly higher __seq, or an equal __seq when it is
      // a delete and the base row is not (exactly the old window's
      // (__seq desc, __deleted desc) order); a FULL tie — same seq,
      // same tombstone state, possibly different values — was
      // nondeterministic under the window and is now pinned to the
      // base side.
      val dataCols = incoming.columns.filterNot(uniqueKey.contains)
      def packed(df: DataFrame, as: String) = df.select(
        uniqueKey.map(col) :+ struct(dataCols.map(col): _*).as(as): _*)
      val batchWins = col("__b")("__seq") > col("__e")("__seq") ||
        (col("__b")("__seq") === col("__e")("__seq") &&
          col("__b")("__deleted") && !col("__e")("__deleted"))
      packed(existing, "__e").join(packed(incoming, "__b"),
          uniqueKey, "full_outer")
        .select(uniqueKey.map(col) ++ dataCols.map { c =>
          when(col("__e").isNull, col("__b")(c))
            .when(col("__b").isNull, col("__e")(c))
            .when(batchWins, col("__b")(c))
            .otherwise(col("__e")(c)).as(c)
        }: _*)
    }
  }

  /** Live view of an [[applyChangesGuarded]] table: tombstones and the
    * bookkeeping columns stripped. Submits no job: the schema comes
    * from a footer on the driver ([[graft.sources.IO.readParquet]]). */
  def readCdcTable(spark: SparkSession, path: String): DataFrame =
    IO.readParquet(spark, path).filter(!col("__deleted"))
      .drop("__seq", "__deleted")

  /** Tombstone compaction for an [[applyChangesGuarded]] table: drop
    * the tombstones whose `__seq` is at or below `horizonSeq` — the
    * caller's promise that the feed can no longer re-deliver any
    * change at that sequence or earlier (the retention horizon of the
    * topic / change log). Live rows keep their `__seq` unconditionally:
    * the forward-only guard for keys that still exist must survive
    * compaction, and a tombstone NEWER than the horizon is retained so
    * an in-horizon replay still cannot resurrect its key. After
    * compaction, a replay OLDER than the horizon for a compacted-away
    * key would re-insert it — that is exactly the contract the horizon
    * parameter encodes, the same trade every log-compacted CDC store
    * (Kafka compact+delete, Delta VACUUM vs time travel) makes.
    *
    * Scale shape: one filtered rewrite of the table through
    * [[IO.commit]] (the original survives until the rewrite has fully
    * succeeded). No shuffle at all: the filter is partition-local, so
    * the write is the only job.
    *
    * @return the compacted on-disk table (bookkeeping columns
    *   included, so callers can audit what was kept) */
  def compactGuarded(spark: SparkSession, path: String,
      horizonSeq: Long): DataFrame =
    // no first run: a missing table fails as Spark's read of it does
    foldInto(spark, path, IO.readParquet(spark, path))(
      _.filter(!col("__deleted") || col("__seq") > lit(horizonSeq)))

  /** dbt incremental with insert_overwrite strategy: every partition
    * VALUE present in the batch is replaced wholesale; untouched
    * partitions are left as-is. The idempotent-backfill shape (re-run
    * a day, get exactly that day's rows replaced) that merge-by-key
    * cannot express when the grain is a partition, not a key.
    *
    * Scale shape: this is Spark's dynamic partition overwrite — the
    * target is written `partitionBy(partitionCol)` and only the
    * batch's partition directories are rewritten; the base table is
    * neither read nor shuffled. The batch is REBALANCE-hinted on the
    * partition key first (AQE coalesces to ~one file per partition
    * value and still splits skewed values), the small-files
    * discipline a repeatedly-backfilled 100 TB table needs — without
    * it every shuffle task writes a sliver into every partition
    * directory. First run bootstraps the target. */
  def insertOverwrite(spark: SparkSession, batch: DataFrame, path: String,
      partitionCol: String): DataFrame = {
    batch.hint("rebalance", org.apache.spark.sql.functions.col(partitionCol))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy(partitionCol)
      .parquet(path)
    IO.readParquet(spark, path)
  }

  /** The null-safe value hash shared by [[snapshot]] and
    * [[changeFeed]]: equal hash ⟺ equal value tuple (control-char
    * separator/sentinel keep concatenation unambiguous). */
  private def valueHash(valueCols: Seq[String]) =
    md5(concat_ws("\u0001",
      valueCols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*))

  /** Change-feed generation — the inverse of [[applyChanges]]: diff
    * two versions of a keyed table into the minimal I/U/D stream that
    * replays old → new. One full-outer co-keyed join; value equality
    * via the same null-safe concat-hash the snapshot uses. U and I
    * rows carry the NEW values, D rows the old (so downstreams can
    * key their tombstones). At 100 TB both versions are typically
    * bucketed by the key, making the join co-located and shuffle-free.
    *
    * @return (op, key..., value...) — unchanged keys emit nothing.
    */
  def changeFeed(oldV: DataFrame, newV: DataFrame,
      uniqueKey: Seq[String], opCol: String = "op"): DataFrame = {
    val valueCols = oldV.columns.filterNot(uniqueKey.contains).toSeq
    val reserved = Seq(opCol, "__oh", "__nh") ++ valueCols.map(c => s"__o_$c")
    require(!oldV.columns.exists(reserved.contains),
      s"changeFeed: input columns collide with ${reserved.filter(oldV.columns.contains)}; " +
        "pass a different opCol or rename the column")
    def hashOf(df: DataFrame, as: String): DataFrame =
      df.withColumn(as, valueHash(valueCols))
    val o = hashOf(oldV, "__oh")
      .select((uniqueKey.map(col) :+ col("__oh")) ++
        valueCols.map(c => col(c).as(s"__o_$c")): _*)
    val n = hashOf(newV, "__nh")
    val joined = o.join(n, uniqueKey, "full_outer")
    joined
      .withColumn(opCol,
        when(col("__oh").isNull, "I")
          .when(col("__nh").isNull, "D")
          .when(col("__oh") =!= col("__nh"), "U"))
      .filter(col(opCol).isNotNull)
      .select((col(opCol) +: uniqueKey.map(col)) ++
        valueCols.map(c =>
          when(col(opCol) === "D", col(s"__o_$c")).otherwise(col(c)).as(c)): _*)
  }

  /** Time travel over an SCD2 [[snapshot]] table: the rows current AS
    * OF `ts` — open before-or-at ts and not closed until after it.
    * Partition-prunable when the snapshot is stored partitioned by
    * is_current / valid_to date. */
  def scd2AsOf(snap: DataFrame, ts: java.sql.Timestamp): DataFrame =
    snap.filter(col("valid_from") <= lit(ts) &&
        (col("valid_to").isNull || col("valid_to") > lit(ts)))
      .drop("valid_from", "valid_to", "is_current", "__hash")

  /** dbt snapshot (SCD2, "check" strategy): maintains
    * valid_from/valid_to/is_current. Changed rows close the current
    * version (valid_to = asOf) and open a new one; unchanged rows pass
    * through; new keys open their first version.
    *
    * @param checkCols the dbt `check_cols` column subset — change
    *   detection hashes ONLY these columns (a row whose other columns
    *   move does NOT version); empty (the default) means all non-key
    *   columns (dbt's `check_cols='all'`). Must be consistent across
    *   runs of one snapshot table (the stored `__hash` is of these
    *   columns).
    * @param invalidateHardDeletes whether a key ABSENT from the batch
    *   closes its current row at `asOf` (dbt's
    *   `invalidate_hard_deletes=true`). Defaults TRUE — this engine's
    *   historical check-strategy behavior (value-diff semantics treat
    *   a vanished row as a change); pass false for dbt's own default
    *   of leaving hard-deleted keys open. */
  def snapshot(spark: SparkSession, current: DataFrame, path: String,
      uniqueKey: Seq[String], asOf: java.sql.Timestamp,
      checkCols: Seq[String] = Seq.empty,
      invalidateHardDeletes: Boolean = true): DataFrame = {
    require(checkCols.forall(current.columns.contains),
      s"check_cols ${checkCols.filterNot(current.columns.contains)} " +
        s"not in the snapshot select (${current.columns.toSeq})")
    require(checkCols.intersect(uniqueKey).isEmpty,
      s"check_cols must not include the unique_key: " +
        checkCols.intersect(uniqueKey))
    val valueCols =
      if (checkCols.nonEmpty) checkCols
      else current.columns.filterNot(uniqueKey.contains).toSeq
    val incoming = current
      .withColumn("__hash", valueHash(valueCols))
      .withColumn("valid_from", lit(asOf))
      .withColumn("valid_to", lit(null).cast("timestamp"))
      .withColumn("is_current", lit(true))
    foldInto(spark, path, incoming) { prev =>
      val prevCurrent = prev.filter(col("is_current"))
      val prevClosed = prev.filter(!col("is_current"))
      val joined = prevCurrent.as("p").join(
        incoming.select((uniqueKey.map(col) :+ col("__hash").as("__new_hash")): _*).as("n"),
        uniqueKey, "left")
      // unchanged current rows stay open; changed rows close; vanished
      // keys close only when hard deletes invalidate (see @param)
      val vanishedOpen =
        if (invalidateHardDeletes) lit(false) else col("__new_hash").isNull
      val stillOpen = joined.filter(vanishedOpen ||
        (col("__new_hash").isNotNull &&
          col("__hash") === col("__new_hash"))).drop("__new_hash")
      val closing = joined.filter(!vanishedOpen &&
        (col("__new_hash").isNull ||
          col("__hash") =!= col("__new_hash"))).drop("__new_hash")
        .withColumn("valid_to", lit(asOf))
        .withColumn("is_current", lit(false))
      // incoming rows that are new keys or changed values open a version
      val openKeys = stillOpen.select(uniqueKey.map(col): _*)
      val opening = incoming.join(openKeys, uniqueKey, "left_anti")
      prevClosed.unionByName(stillOpen).unionByName(closing).unionByName(opening)
    }
  }

  /** dbt snapshot with the TIMESTAMP strategy: a current row is
    * superseded when the incoming row's `updatedAt` is strictly NEWER
    * than the stored one — no value hashing, the source system's own
    * change clock decides (the strategy dbt recommends when a
    * reliable updated_at exists). Differences from the check-strategy
    * [[snapshot]]: unchanged-but-touched rows (same updated_at) pass
    * through, and VANISHED keys stay open — dbt's default (hard
    * deletes are ignored unless invalidate_hard_deletes is set),
    * which [[snapshot]]'s value-diff semantics deliberately do not
    * share. Validity intervals carry the SOURCE clock, exactly as
    * dbt's timestamp strategy records them: valid_from is the row's
    * own `updatedAt` (not the run time), and a superseded row is
    * closed at the REPLACING row's `updatedAt` — so point-in-time
    * joins against the SCD2 table resolve on the upstream change
    * clock, matching a dbt-produced snapshot table row for row
    * (`asOf` is kept for API symmetry with [[snapshot]] but stamps
    * nothing under this strategy).
    *
    * Scale shape: identical to [[snapshot]] — one keyed left join of
    * the current-version table against the batch, unions, one
    * commit; closed history is never re-shuffled. */
  /** @param invalidateHardDeletes dbt's `invalidate_hard_deletes`:
    *   when true, a key ABSENT from the batch closes its current row
    *   at `asOf` — the RUN clock, since a hard delete carries no
    *   source clock (dbt stamps the same way). Default false = dbt's
    *   default (vanished keys stay open). */
  def snapshotTimestamp(spark: SparkSession, current: DataFrame,
      path: String, uniqueKey: Seq[String], updatedAt: String,
      asOf: java.sql.Timestamp,
      invalidateHardDeletes: Boolean = false): DataFrame = {
    val incoming = current
      .withColumn("valid_from", col(updatedAt).cast("timestamp"))
      .withColumn("valid_to", lit(null).cast("timestamp"))
      .withColumn("is_current", lit(true))
    foldInto(spark, path, incoming) { prev =>
      val prevCurrent = prev.filter(col("is_current"))
      val prevClosed = prev.filter(!col("is_current"))
      val joined = prevCurrent.as("p").join(
        incoming.select((uniqueKey.map(col) :+
          col(updatedAt).as("__new_ts")): _*).as("n"),
        uniqueKey, "left")
      // stays open: key absent from the batch (unless hard deletes
      // invalidate — see @param) OR not newer than the stored clock
      val vanishedOpen =
        if (invalidateHardDeletes) lit(false) else col("__new_ts").isNull
      val stillOpen = joined.filter(vanishedOpen ||
        (col("__new_ts").isNotNull &&
          col("__new_ts") <= col(s"p.$updatedAt"))).drop("__new_ts")
      // superseded rows close at the replacing row's source clock (dbt
      // parity); hard-deleted rows (when invalidating) close at the
      // RUN clock — a delete has no source clock
      val closing = joined.filter(col("__new_ts").isNotNull &&
        col("__new_ts") > col(s"p.$updatedAt"))
        .withColumn("valid_to", col("__new_ts").cast("timestamp"))
        .withColumn("is_current", lit(false))
        .drop("__new_ts")
      val closingDeleted =
        if (!invalidateHardDeletes) None
        else Some(joined.filter(col("__new_ts").isNull).drop("__new_ts")
          .withColumn("valid_to", lit(asOf))
          .withColumn("is_current", lit(false)))
      val opening = incoming.join(
        closing.select(uniqueKey.map(col): _*), uniqueKey, "left_semi")
        .unionByName(incoming.join(
          prevCurrent.select(uniqueKey.map(col): _*), uniqueKey, "left_anti"))
      closingDeleted.foldLeft(
        prevClosed.unionByName(stillOpen).unionByName(closing)
          .unionByName(opening))(_ unionByName _)
    }
  }

  /** Incremental AGGREGATE refresh — the materialized-metrics-rollup
    * materialization the row-level strategies above cannot express:
    * the on-disk state is per-key ALGEBRAIC partial-aggregate state
    * (cnt / sum / min / max plus HyperLogLog registers for distinct),
    * and each nightly batch folds in as a state-sized merge. A
    * recompute touches the full history (100 TB); a refresh touches
    * the batch plus a |keys|-bounded state table — that asymmetry is
    * the whole point of the shape, and refresh ≡ recompute is exactly
    * what the driver oracle proves (it recomputes from scratch; the
    * engine folds batch-by-batch; the hashes must match).
    *
    * State layout under `path`: `scalars` (key, cnt, sum_micro,
    * min_micro, max_micro) and `regs` (key, reg, mj — the
    * [[graft.ext.Sketches.hllRegisters]] table, ≤ keys×m rows). Both
    * merges are commutative+associative (sum/sum/min/max and
    * register-wise max), so batches may FOLD in any order; the state
    * directory itself is single-writer (parquet swap-rename — a
    * transactional table format supplies multi-writer/crash atomicity
    * in production, as for the other strategies in this file). The
    * streaming twin
    * ([[graft.streaming.StreamingOps.hllRegistersStream]]) maintains
    * the identical register state.
    *
    * Scale shape: one batch-sized partial aggregate (map-side combine
    * to ≤ |keys| rows), one state-sized union+re-aggregate, two
    * commits. The history is never re-read.
    *
    * @param valueMicro scaled-integer measure column (the sumCents
    *   discipline — raw-double sums are order-sensitive)
    * @param distinctKey column whose per-key distinct count the HLL
    *   registers track
    * @return the finished rollup: key, cnt, sum_micro, min_micro,
    *   max_micro, v, raw_est, hll_est
    */
  def aggRefresh(spark: SparkSession, batch: DataFrame, path: String,
      key: String, valueMicro: org.apache.spark.sql.Column,
      distinctKey: org.apache.spark.sql.Column, m: Int = 256): DataFrame = {
    val scalarsPath = path + "/scalars"
    val regsPath = path + "/regs"
    val haveScalars = IO.tableExists(spark, scalarsPath)
    val haveRegs = IO.tableExists(spark, regsPath)
    // the two state tables advance together; half-present state means
    // a fold died between its commits — refuse to fold on top of
    // it (re-bootstrapping or restoring is a caller decision). This
    // library's parquet-directory state is single-writer; a
    // transactional table format supplies the multi-writer/crash
    // atomicity story in production, as everywhere else in this file.
    require(haveScalars == haveRegs,
      s"aggRefresh state desync at $path: scalars=$haveScalars regs=$haveRegs " +
        "— a previous fold failed between commits; rebuild the rollup")

    // one materialized pass over the batch feeds BOTH aggregates
    // (otherwise each commit re-scans the raw batch)
    val proj = batch
      .select(col(key), valueMicro.cast("long").as("__v"),
        distinctKey.as("__dk"))
      .localCheckpoint()

    val partial = proj
      .groupBy(col(key))
      .agg(count(lit(1)).as("cnt"), sum(col("__v")).as("sum_micro"),
        min(col("__v")).as("min_micro"), max(col("__v")).as("max_micro"))
    val scalars = foldInto(spark, scalarsPath, partial)(_.unionByName(partial)
      .groupBy(col(key))
      .agg(sum(col("cnt")).as("cnt"), sum(col("sum_micro")).as("sum_micro"),
        min(col("min_micro")).as("min_micro"), max(col("max_micro")).as("max_micro")))

    val partialRegs = graft.ext.Sketches.hllRegisters(
      proj.select(col(key), col("__dk")), key, "__dk", m)
    val regs = foldInto(spark, regsPath, partialRegs)(_.unionByName(partialRegs)
      .groupBy(col(key), col("reg")).agg(max(col("mj")).as("mj")))
    // both states are on disk — the staged batch is dead
    graft.ext.Checkpoints.release(proj)

    scalars.join(graft.ext.Sketches.hllEstimate(regs, key, m), Seq(key))
  }
}
