"""Time-partitioned parquet table writer with partition-overwrite upsert.

The reference persists every micro-batch via per-row
``INSERT ... ON CONFLICT (station_id, timestamp) DO UPDATE``
(services/consumer/main.py:225-249) into a TimescaleDB hypertable
chunked on timestamp (migrations/db.sql:14-15). The Spark-native
equivalent built here:

- **table layout**: parquet partitioned by a day-derived column
  (``p_date``) — the analog of hypertable chunks; time-range
  predicates prune partitions at scan time.
- **upsert**: MERGE-as-rewrite. Updates touch only the partitions
  their keys fall in; with
  ``spark.sql.sources.partitionOverwriteMode=dynamic``, an
  ``overwrite`` write replaces exactly those partitions and leaves
  the rest of the table untouched. At 100 TB the rewrite cost is
  proportional to the touched partitions (a day of data), not the
  table.
- **determinism**: the merged content of a touched partition is
  updates ∪ (base ⟕̸ updates) — last-write-wins on the key, same as
  the reference's ON CONFLICT DO UPDATE. The survivor is unique
  because callers pre-dedup the update batch (as the consumer's
  keyed buffer does).

This module is the batch sink; streaming/pipeline.py drives the same
merge from foreachBatch.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.sources.tables import load_table

PARTITION_COL = "p_date"
SCRATCH_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".scratch",
)


def scratch_path(*parts: str) -> str:
    """Repo-local scratch dir for written tables (gitignored)."""
    p = os.path.join(SCRATCH_ROOT, *parts)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    return p


def with_partition_col(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    return df.withColumn(PARTITION_COL, F.date_format(F.col(ts_col), "yyyy-MM-dd"))


_CALLER_LAYOUT_NODES = frozenset(
    {"Repartition", "RepartitionByExpression", "RebalancePartitions"}
)
_LAYOUT_TRANSPARENT_NODES = frozenset({"Project", "SubqueryAlias", "WithColumns"})


def caller_partitioned(df: DataFrame) -> bool:
    """True when the caller explicitly chose a partitioning for this
    frame — a repartition/coalesce/rebalance at the top of the logical
    plan (looking through projections such as with_partition_col's
    withColumn). Writers honor that layout instead of re-distributing:
    callers control file layout (e.g. a test committing repartition(4)
    to create a multi-file partition, or a pipeline pre-clustering for
    a downstream reader)."""
    try:
        node = df._jdf.queryExecution().logical()
        for _ in range(16):
            name = node.getClass().getSimpleName()
            if name in _CALLER_LAYOUT_NODES:
                return True
            if name in _LAYOUT_TRANSPARENT_NODES:
                node = node.children().apply(0)
                continue
            return False
    except Exception:
        return False
    return False


def distribute_for_write(df: DataFrame, *cols: str) -> DataFrame:
    """Cluster rows by the layout column(s) before a partitionBy
    write — Iceberg's write.distribution-mode=hash (guide §6:
    partitioned writes from N input partitions otherwise emit
    O(N × distinct values) small files; clustering first emits
    O(distinct values)).

    Uses a REBALANCE hint rather than repartition(col): AQE both
    coalesces small partitions AND splits skewed ones
    (spark.sql.adaptive.optimizeSkewsInRebalancePartitions, default
    on), so a hot partition value still writes through many tasks at
    advisory-sized chunks instead of one giant file — plain
    repartition(col) caps write parallelism at the distinct-value
    count (guide §2.2/§2.5). Skipped entirely when the caller already
    repartitioned/coalesced explicitly: caller-chosen file layout wins.

    REBALANCE only resolves under AQE; in a stateful streaming drain
    Spark clones the session with AQE force-disabled ("Disabling AQE
    since AQE is not supported in stateful workloads") and the hint
    would be SILENTLY dropped — no distribution at all, O(input
    partitions × values) small files per micro-batch. There we fall
    back to the plain hash repartition: without AQE no skew split
    exists anyway, and micro-batches are small by construction. The
    same fallback applies when the AQE setting cannot be read: the
    hash repartition lays files out correctly either way, while a
    hint in a session without AQE would be dropped silently."""
    if caller_partitioned(df):
        return df
    try:
        aqe = str(
            df.sparkSession.conf.get("spark.sql.adaptive.enabled", "true")
        ).lower() == "true"
    except Exception:  # noqa: BLE001 — AQE state unknown: fail closed
        aqe = False
    if not aqe:
        return df.repartition(*[F.col(c) for c in cols])
    return df.hint("rebalance", *cols)


def write_time_partitioned(
    df: DataFrame, path: str, ts_col: str = "ts", mode: str = "overwrite"
) -> None:
    """Write a table partitioned by day — TimescaleDB-chunk analog.

    Day granularity keeps partition counts sane at scale (365/year);
    file sizes within a partition are governed by
    spark.sql.files.maxPartitionBytes on read and AQE coalescing on
    write.
    """
    # day-keyed distribution before the partitioned write (guide §6 /
    # Iceberg write.distribution-mode=hash): files per commit =
    # O(touched days), not O(input partitions × days); REBALANCE keeps
    # write parallelism on skewed backfills (AQE splits a hot day)
    wp = distribute_for_write(with_partition_col(df, ts_col), PARTITION_COL)
    if df.isEmpty():
        # a partitionBy write of ZERO rows emits no data files (only
        # _SUCCESS), leaving an unreadable table; a plain write of the
        # same empty frame persists the schema, so readers get a valid
        # empty table with the identical logical schema. The isEmpty
        # probe reads at most one row. Restricted to overwrite: an
        # empty APPEND against an existing partitioned table would
        # drop a root-level file next to p_date=... dirs — the exact
        # mixed-depth layout upsert_into_table's healing path guards
        # against — and an empty append is a no-op anyway.
        if mode != "overwrite":
            return
        wp.write.mode(mode).parquet(path)
        return
    wp.write.mode(mode).partitionBy(PARTITION_COL).parquet(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned table back, dropping the physical partition
    column (it is derivable from ts; keeping it internal preserves the
    logical schema)."""
    return spark.read.parquet(path).drop(PARTITION_COL)


def upsert_into_table(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
) -> None:
    """Last-write-wins MERGE into a day-partitioned parquet table.

    Only the partitions containing update keys are read, merged, and
    rewritten (dynamic partition overwrite). The anti join shuffles
    the touched-partition slice and the updates on the key; untouched
    partitions are never opened. A not-yet-existing table is created
    (first streaming micro-batch).
    """
    if not os.path.isdir(path) or not any(
        not f.startswith((".", "_")) for f in os.listdir(path)
    ):
        write_time_partitioned(updates, path, ts_col)
        return
    if not any(f.startswith(PARTITION_COL + "=") for f in os.listdir(path)):
        # the table exists only as the empty-placeholder layout (plain
        # write, no partition dirs — see write_time_partitioned): a
        # dynamic partition overwrite would ADD p_date=... dirs while
        # leaving the root-level placeholder file, and mixed directory
        # depths break partition discovery on the next read. The base
        # is empty by construction, so re-create instead of merging.
        write_time_partitioned(updates, path, ts_col)
        return
    # touched-day list: partition METADATA (bounded by day count), not
    # data — the one acceptable collect in this module; it becomes the
    # IN-list that prunes the base scan to touched partitions only.
    touched = [
        r[0]
        for r in with_partition_col(updates, ts_col)
        .select(PARTITION_COL)
        .distinct()
        .collect()
    ]
    if not touched:
        return
    base = (
        spark.read.parquet(path)
        .filter(F.col(PARTITION_COL).isin(touched))
        .drop(PARTITION_COL)  # re-derived from ts at write; avoids the
        # inferred-DATE (read) vs STRING (derived) union clash
    )
    merged = updates.unionByName(
        base.join(updates.select(keys).distinct(), on=keys, how="left_anti")
    )
    # inside foreachBatch the micro-batch DataFrame belongs to a CLONED
    # SparkSession with isolated confs — the overwrite-mode conf must be
    # set on the session that executes the write (merged inherits it
    # from `updates`), not the outer one the caller passed
    sess = merged.sparkSession
    prev = sess.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    sess.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # the merge plan reads `path` and the overwrite writes to
        # `path`: localCheckpoint materializes the merged partitions
        # to executor block storage (cutting the lineage back to the
        # input files) so the overwrite never overlaps its own input
        # — ONE parquet write per merge, not a staging double-write.
        #
        # Durability note (deliberate non-goal): dynamic partition
        # overwrite is not transactional — a crash between the delete
        # and the rewrite of a touched partition loses that
        # partition's base rows, and checkpoint replay then merges
        # against the corrupted base. The reference has the same
        # window only per-row (mid-transaction Postgres aborts roll
        # back). A table format with atomic commits (Delta/Iceberg)
        # is the production answer; plain parquet is the environment
        # constraint here.
        merged = distribute_for_write(  # same §6 rule as above
            with_partition_col(merged, ts_col), PARTITION_COL
        ).localCheckpoint(eager=True)
        merged.write.mode("overwrite").partitionBy(PARTITION_COL).parquet(path)
        merged.unpersist()
    finally:
        sess.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def upsert_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end K4: write events day-partitioned, upsert a
    correction batch (+1000 on every 10th event), re-read the merged
    table.

    Same semantics as the plan-only ``ingest.upsert_merge`` (and the
    same oracle), but exercised through real parquet files: the
    upsert rewrites only the touched day-partitions, which is the
    behavior that matters at 100 TB.
    """
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    path = scratch_path("upsert_table", sf_name, "t")
    shutil.rmtree(path, ignore_errors=True)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    write_time_partitioned(ev, path)
    updates = ev.filter(F.col("event_id") % 10 == 0).withColumn(
        "value", F.col("value") + F.lit(1000.0)
    )
    upsert_into_table(spark, path, updates, ["user_id", "ts"])
    return read_table(spark, path).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


def cdc_apply(
    base: DataFrame, changes: DataFrame, keys: list[str]
) -> DataFrame:
    """Apply a change-data-capture feed (Delta CDF vocabulary:
    ``_change_type`` ∈ insert / update_postimage / update_preimage /
    delete) to a snapshot — the CONSUMER side of
    versioned.table_changes: downstream replicas stay in sync by
    applying the feed instead of re-copying the table.

    Semantics: deletes remove their key, postimages replace their
    key's row, inserts add theirs; preimages are audit-only and
    ignored. Shape: ONE anti-join on the key (every touched key —
    whatever the change kind — evicts the old row) plus a union of the
    surviving additions; identical cost to the LWW upsert, keyed on
    the table's natural partition key at 100 TB. Feeds are assumed
    key-consistent (at most one terminal change per key per feed),
    which table_changes guarantees per snapshot pair.
    """
    from pyspark.sql import functions as F

    touched = changes.filter(
        F.col("_change_type").isin("insert", "update_postimage", "delete")
    ).select(*keys).distinct()
    additions = changes.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).drop("_change_type")
    return base.join(touched, keys, "left_anti").unionByName(additions)


def cdc_apply_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: apply a deterministic CDC feed to the events
    table — every 10th event (not also 17th) gets an update postimage
    (value +1000), every 17th a delete, and every 23rd is cloned as an
    insert with a shifted key — and return the synced replica. The
    oracle replays the same feed in SQL."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    is_upd = (F.col("event_id") % 10 == 0) & (F.col("event_id") % 17 != 0)
    is_del = F.col("event_id") % 17 == 0
    upd = ev.filter(is_upd).select(
        "event_id", "ts", "user_id", "event_type",
        (F.col("value") + 1000.0).alias("value"),
        F.lit("update_postimage").alias("_change_type"),
    )
    dele = ev.filter(is_del).select(
        "*", F.lit("delete").alias("_change_type")
    )
    ins = ev.filter(F.col("event_id") % 23 == 0).select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        "ts", "user_id",
        F.lit("replay").alias("event_type"),
        "value",
        F.lit("insert").alias("_change_type"),
    )
    changes = upd.unionByName(dele).unionByName(ins)
    return cdc_apply(ev, changes, ["event_id"])


# ---- SCD2: slowly-changing-dimension history maintenance -----------

SCD2_T1 = "2024-01-01 00:00:00"
SCD2_T2 = "2024-06-01 00:00:00"
SCD2_T3 = "2024-09-01 00:00:00"


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    as_of: str,
) -> DataFrame:
    """Apply an update batch to a type-2 slowly-changing dimension:
    changed keys get their current row CLOSED (valid_to = as_of,
    is_current = false) and a fresh version OPENED; unchanged keys
    pass through; brand-new keys open at version 1. The Delta/Iceberg
    `MERGE ... WHEN MATCHED/NOT MATCHED` shape on plain DataFrames.

    Change detection hashes every tracked (non-key, non-bookkeeping)
    attribute, so callers never enumerate columns twice. Each column
    is null-sentineled BEFORE hashing: xxhash64 skips null arguments
    without advancing position, so (x, NULL) and (NULL, x) would
    otherwise collide and the update would be silently dropped.

    Only the is_current slice participates in the join — historical
    (closed) rows union through untouched. Joining the whole dimension
    would emit one new "current" row per historical version on every
    re-application, corrupting history; with the split, scd2_apply is
    idempotent-safe to apply repeatedly, which is the defining SCD2
    operation. Plan: ONE equi-join on the key over the current slice
    (broadcast while the batch is small, AQE's call) plus unions — the
    dimension scans once however deep the history grows, and the join
    key is the natural partition key of a 100 TB dimension.
    """
    from pyspark.sql import functions as F

    attrs = [c for c in dim.columns if c not in (key, "version", "valid_from", "valid_to", "is_current")]
    fp = lambda df: F.xxhash64(  # noqa: E731
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL")) for c in attrs]
    )
    t2 = F.lit(as_of).cast("timestamp")

    history = dim.filter(~F.col("is_current"))
    cur = dim.filter(F.col("is_current")).withColumn("_fp", fp(dim))
    upd = updates.withColumn("_fp_new", fp(updates)).select(
        F.col(key).alias("_k"),
        "_fp_new",
        *[F.col(c).alias(f"_new_{c}") for c in attrs],
    )
    joined = cur.join(upd, cur[key] == upd["_k"], "full_outer")

    changed = upd["_fp_new"].isNotNull() & cur["_fp"].isNotNull() & (
        upd["_fp_new"] != cur["_fp"]
    )
    brand_new = cur["_fp"].isNull()

    kept = joined.filter(~brand_new).select(
        cur[key].alias(key),
        *[cur[c].alias(c) for c in attrs],
        cur["version"].alias("version"),
        cur["valid_from"].alias("valid_from"),
        F.when(changed, t2).otherwise(cur["valid_to"]).alias("valid_to"),
        (~changed & cur["is_current"]).alias("is_current"),
    )
    # every opened row has the update side present (changed requires a
    # non-null update fingerprint; brand_new rows exist only on the
    # update side of the full outer) — take update values directly, a
    # coalesce against cur would resurrect old values when an update
    # legitimately sets a column to NULL
    opened = joined.filter(changed | brand_new).select(
        F.coalesce(cur[key], upd["_k"]).alias(key),
        *[upd[f"_new_{c}"].alias(c) for c in attrs],
        F.when(brand_new, F.lit(1)).otherwise(cur["version"] + 1).alias("version"),
        t2.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return history.unionByName(kept).unionByName(opened)


def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: seed a type-2 customer dimension at T1, apply a
    deterministic update batch at T2 (every 7th customer's balance
    +100.0 — one IEEE add, engine-identical — every 13th re-segmented,
    plus one brand-new key past the max), then apply a SECOND batch at
    T3 (every 7th customer's balance raised again to orig+200.0, the
    new key re-segmented to MACHINERY) and return the full history.

    The second application is the point: a dimension that already
    holds closed history rows must version cleanly (one new current
    row per changed key, historical rows untouched) — the exact shape
    the pre-r6 whole-dimension join corrupted. Every row/attribute is
    a pure function of the customer table, so the oracle reproduces
    both MERGEs with plain SQL."""
    from pyspark.sql import functions as F

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    dim = cust.select(
        "*",
        F.lit(1).alias("version"),
        F.lit(SCD2_T1).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changed = cust.filter(
        (F.col("c_custkey") % 7 == 0) | (F.col("c_custkey") % 13 == 0)
    ).select(
        "c_custkey",
        "c_name",
        F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100.0)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        F.when(F.col("c_custkey") % 13 == 0, F.lit("RESEGMENTED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    # filter, not assumption: on an EMPTY dimension max() is null and
    # the synthesized new-customer row would carry a null key
    mx = cust.agg(F.max("c_custkey").alias("m")).filter(F.col("m").isNotNull())
    fresh = mx.select(
        (F.col("m") + 1).alias("c_custkey"),
        F.lit("Customer#NEW").alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("BUILDING").alias("c_mktsegment"),
    )
    dim2 = scd2_apply(dim, changed.unionByName(fresh), "c_custkey", SCD2_T2)
    # Between batches the dimension is AT REST in a table — a real
    # deployment writes each apply's result before the next batch
    # arrives. Materializing here mirrors that and keeps the second
    # apply's plan reading a table, not re-deriving the first apply's
    # whole lazy chain once per branch (current/historical/join).
    sf_name = os.path.basename(sf_dir.rstrip("/"))
    rest = scratch_path("scd2", sf_name, "dim_t2")
    shutil.rmtree(rest, ignore_errors=True)
    dim2.write.parquet(rest)
    dim2 = spark.read.parquet(rest)

    # T3 batch: %7 keys move again (orig+200, segment kept as of T2);
    # the T2-era brand-new key re-segments. %13-only keys are absent,
    # so their T2 rows must survive the second apply untouched.
    changed3 = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        "c_name",
        (F.col("c_acctbal") + 200.0).alias("c_acctbal"),
        F.when(F.col("c_custkey") % 13 == 0, F.lit("RESEGMENTED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    fresh3 = mx.select(
        (F.col("m") + 1).alias("c_custkey"),
        F.lit("Customer#NEW").alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("MACHINERY").alias("c_mktsegment"),
    )
    return scd2_apply(dim2, changed3.unionByName(fresh3), "c_custkey", SCD2_T3)


def pit_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join: enrich a fact row with the
    dimension attributes that were CURRENT at the fact's own event
    time — the read-side counterpart of SCD2 (reference analogue: the
    consumer's PK-upserted table answers only "latest"; a versioned
    dimension answers "as of when", `services/query/main.py`'s
    latest-only reads are the degenerate case).

    Probes are a pure function of orders (o_orderkey % 3 picks the
    T1/T2/T3 era) so the DuckDB oracle reproduces the whole pipeline.
    Join shape: equi on c_custkey with the interval predicate
    `valid_from <= ts AND (valid_to IS NULL OR ts < valid_to)` as a
    residual — SCD2 intervals are DISJOINT per key, so output
    cardinality is exactly the fact count (no range-join explosion).
    The dimension is customer-sized → broadcast; at 100 TB the fact
    scan never shuffles: each task probes the broadcast history and
    keeps the one interval covering its row's timestamp.
    """
    from pyspark.sql import functions as F

    dim = scd2_customer_history(spark, sf_dir)
    probes = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(SCD2_T1))
        .when(F.col("o_orderkey") % 3 == 1, F.lit(SCD2_T2))
        .otherwise(F.lit(SCD2_T3))
        .cast("timestamp")
        .alias("probe_ts"),
    )
    return (
        probes.join(
            F.broadcast(dim),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("valid_from") <= F.col("probe_ts"))
            & (
                F.col("valid_to").isNull()
                | (F.col("probe_ts") < F.col("valid_to"))
            ),
        )
        .select(
            "o_orderkey",
            "o_custkey",
            "probe_ts",
            "version",
            "c_acctbal",
            "c_mktsegment",
        )
    )
