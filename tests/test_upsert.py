"""Partitioned-upsert mechanics: the property that matters at 100 TB
is that merging an update batch rewrites ONLY the day-partitions the
batch touches — verified here at the filesystem level.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.operators.upsert import (
    read_table,
    scratch_path,
    upsert_into_table,
    write_time_partitioned,
)
from data_ingestion_pipeline_spark.sources.tables import load_table
from data_ingestion_pipeline_spark.streaming.pipeline import FEED_COLS
from tests.conftest import SF_TEST

TOUCHED_DAY = "2024-01-05"
UNTOUCHED_DAY = "2024-01-10"


def _files(table: str, day: str) -> dict[str, tuple[float, int]]:
    return {
        p: (os.path.getmtime(p), os.path.getsize(p))
        for p in glob.glob(f"{table}/p_date={day}/*.parquet")
    }


def test_upsert_rewrites_only_touched_partitions(spark):
    table = scratch_path("t_prune", "table")
    shutil.rmtree(table, ignore_errors=True)

    ev = load_table(spark, SF_TEST, "events").select(*FEED_COLS)
    write_time_partitioned(ev, table)
    n = ev.count()

    before_touched = _files(table, TOUCHED_DAY)
    before_untouched = _files(table, UNTOUCHED_DAY)
    assert before_touched and before_untouched, "both days must exist"

    updates = ev.filter(F.to_date("ts") == TOUCHED_DAY).withColumn(
        "value", F.col("value") + F.lit(7.0)
    )
    n_upd = updates.count()
    assert n_upd > 0
    upsert_into_table(spark, table, updates, ["user_id", "ts"])

    # untouched day: byte-identical files, not even re-written
    assert _files(table, UNTOUCHED_DAY) == before_untouched
    # touched day: rewritten
    assert _files(table, TOUCHED_DAY) != before_touched

    merged = read_table(spark, table)
    assert merged.count() == n
    got_updated = merged.filter(
        (F.to_date("ts") == TOUCHED_DAY)
    ).agg(F.sum("value")).first()[0]
    want_updated = updates.agg(F.sum("value")).first()[0]
    assert abs(got_updated - want_updated) < 1e-6


def test_written_table_prunes_partitions(spark):
    """A date predicate on the day-partitioned table must prune at the
    scan (PartitionFilters), standing in for TimescaleDB chunk
    exclusion — the read-side payoff of the write layout."""
    import contextlib
    import io

    table = scratch_path("t_prune2", "table")
    shutil.rmtree(table, ignore_errors=True)
    ev = load_table(spark, SF_TEST, "events").select(*FEED_COLS)
    write_time_partitioned(ev, table)

    df = spark.read.parquet(table).filter(
        F.col("p_date") == TOUCHED_DAY
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "p_date" in pf, pf
    # and the pruned read returns exactly that day's rows
    assert df.count() == ev.filter(F.to_date("ts") == TOUCHED_DAY).count()


def test_distribute_for_write_layout(spark, tmp_path):
    """The REBALANCE-based write distribution (guide §2.5/§6, VERDICT
    r16 task 2) must cover three shapes:

    - many-small-inputs: a 32-partition input collapses to ~1 file per
      day instead of O(partitions × days) small files;
    - one-hot-partition: a skewed day SPLITS across multiple write
      tasks (AQE optimizeSkewsInRebalancePartitions) instead of
      funneling through one task / one giant file — the failure mode
      plain repartition(PART_COL) bakes in;
    - caller layout wins: an explicit caller repartition is honored
      verbatim (the compaction fixtures rely on controlling file
      counts), so no hash distribution is injected on top of it.
    """
    from data_ingestion_pipeline_spark.operators.upsert import (
        caller_partitioned,
        distribute_for_write,
        write_time_partitioned,
    )

    ev = load_table(spark, SF_TEST, "events").select(*FEED_COLS)

    # plan shape: the injected distribution is a REBALANCE (AQE can
    # both coalesce and skew-split it), never a plain hash repartition
    planned = distribute_for_write(ev.withColumn("d", F.to_date("ts")), "d")
    assert "rebalance" in planned._jdf.queryExecution().analyzed().toString().lower()
    # caller layout is detected through projections and honored
    assert caller_partitioned(ev.repartition(4))
    assert caller_partitioned(ev.repartition(4).withColumn("d", F.to_date("ts")))
    assert not caller_partitioned(ev)
    laid_out = ev.repartition(4)
    assert distribute_for_write(laid_out, "d") is laid_out  # untouched

    # many-small-inputs: 32 input partitions, files/day must not be 32
    t1 = str(tmp_path / "fanin")
    write_time_partitioned(ev.repartition(32), t1)  # caller layout: honored
    days = glob.glob(f"{t1}/p_date=*")
    assert days
    per_day_explicit = max(
        len(glob.glob(f"{d}/*.parquet")) for d in days
    )
    assert per_day_explicit >= 4  # caller's wide layout survives

    t2 = str(tmp_path / "collapsed")
    wide = ev.repartition(32).localCheckpoint()  # strips caller layout
    assert not caller_partitioned(wide)
    write_time_partitioned(wide, t2)
    per_day = max(
        len(glob.glob(f"{d}/*.parquet")) for d in glob.glob(f"{t2}/p_date=*")
    )
    assert per_day <= 2  # collapsed by the rebalance, not O(input parts)

    # one-hot-partition: with a small advisory size the hot day must
    # write through >1 task (AQE splits the skewed rebalance output)
    prev = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", None)
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
    try:
        t3 = str(tmp_path / "skew")
        hot = wide.withColumn(
            "ts", F.lit("2024-01-05 00:00:00").cast("timestamp")
        )
        write_time_partitioned(hot, t3)
        hot_files = glob.glob(f"{t3}/p_date=2024-01-05/*.parquet")
        assert len(hot_files) > 1, "hot day must split across write tasks"
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        else:
            spark.conf.set(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", prev
            )


def test_distribute_for_write_fails_closed(spark, monkeypatch):
    """When the AQE setting cannot be read, the write distribution is
    the plain hash repartition on the layout column — correct with AQE
    on or off — never a REBALANCE hint that a session without AQE
    drops silently."""
    from pyspark.sql.conf import RuntimeConfig

    from data_ingestion_pipeline_spark.operators.upsert import (
        distribute_for_write,
    )

    ev = load_table(spark, SF_TEST, "events").withColumn(
        "d", F.to_date("ts")
    )

    real_get = RuntimeConfig.get

    def unreadable(self, key, *args, **kwargs):
        if key == "spark.sql.adaptive.enabled":
            raise RuntimeError("session conf unavailable")
        return real_get(self, key, *args, **kwargs)

    monkeypatch.setattr(RuntimeConfig, "get", unreadable)
    planned = distribute_for_write(ev, "d")
    monkeypatch.undo()
    plan = planned._jdf.queryExecution().analyzed().toString()
    top = plan.splitlines()[0]
    assert top.startswith("RepartitionByExpression [d#"), plan
    assert "rebalance" not in plan.lower()


def test_upsert_after_empty_create_heals_layout(spark, tmp_path):
    """An empty first batch creates the plain-layout placeholder (no
    partition dirs); a later non-empty upsert must RE-CREATE the
    table partitioned rather than dynamic-overwriting on top of it —
    mixing root-level files with partition dirs breaks partition
    discovery on read."""
    from data_ingestion_pipeline_spark.operators.upsert import (
        read_table,
        upsert_into_table,
    )
    from data_ingestion_pipeline_spark.sources.tables import load_table
    from tests.conftest import SF_TEST

    path = str(tmp_path / "t")
    ev = load_table(spark, SF_TEST, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    upsert_into_table(spark, path, ev.limit(0), ["user_id", "ts"])  # empty create
    assert read_table(spark, path).count() == 0
    rows = ev.limit(200)
    upsert_into_table(spark, path, rows, ["user_id", "ts"])  # must heal
    got = read_table(spark, path)
    assert got.count() == 200
    assert set(got.columns) == {"event_id", "ts", "user_id", "event_type", "value"}


def test_scd2_repeated_apply_keeps_history_clean(spark):
    """The defining SCD2 operation is applying batch after batch to a
    dimension that already holds history. Pin the invariants the
    pre-r6 whole-dimension join broke: exactly one is_current row per
    key, closed rows' valid_to never rewritten, versions contiguous,
    and a no-op batch (identical attributes) changes nothing.
    """
    from data_ingestion_pipeline_spark.operators.upsert import scd2_apply

    dim = spark.createDataFrame(
        [(1, "a", 10.0, 1, "2024-01-01 00:00:00", None, True),
         (2, "b", 20.0, 1, "2024-01-01 00:00:00", None, True)],
        "k int, name string, bal double, version int, "
        "valid_from string, valid_to string, is_current boolean",
    ).select(
        "k", "name", "bal", "version",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
        "is_current",
    )
    b1 = spark.createDataFrame([(1, "a", 11.0)], "k int, name string, bal double")
    b2 = spark.createDataFrame([(1, "a", 12.0)], "k int, name string, bal double")

    d2 = scd2_apply(dim, b1, "k", "2024-02-01 00:00:00")
    d3 = scd2_apply(d2, b2, "k", "2024-03-01 00:00:00")
    rows = {(r.k, r.version): r for r in d3.collect()}

    assert len(rows) == 4  # k=1 v1,v2,v3 + k=2 v1 — no duplicates
    cur = [r for r in rows.values() if r.is_current]
    assert sorted((r.k, r.version, r.bal) for r in cur) == [(1, 3, 12.0), (2, 1, 20.0)]
    # closed rows keep their ORIGINAL close timestamps
    assert rows[(1, 1)].valid_to.isoformat() == "2024-02-01T00:00:00"
    assert rows[(1, 2)].valid_to.isoformat() == "2024-03-01T00:00:00"

    # idempotence: re-applying the same attributes is a no-op
    d4 = scd2_apply(d3, b2, "k", "2024-04-01 00:00:00")
    assert d4.count() == 4
    assert d4.filter(F.col("is_current")).count() == 2


def test_scd2_fingerprint_sees_null_position(spark):
    """(x, NULL) -> (NULL, x) must register as a change: naive
    xxhash64 over nullable args skips nulls without advancing
    position and would hash both rows identically."""
    from data_ingestion_pipeline_spark.operators.upsert import scd2_apply

    dim = spark.createDataFrame(
        [(1, "x", None, 1, "2024-01-01 00:00:00", None, True)],
        "k int, a string, b string, version int, "
        "valid_from string, valid_to string, is_current boolean",
    ).select(
        "k", "a", "b", "version",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
        "is_current",
    )
    upd = spark.createDataFrame([(1, None, "x")], "k int, a string, b string")
    out = scd2_apply(dim, upd, "k", "2024-02-01 00:00:00")
    assert out.count() == 2  # closed v1 + opened v2, not a silent no-op
    cur = out.filter(F.col("is_current")).collect()
    assert [(r.a, r.b, r.version) for r in cur] == [(None, "x", 2)]
