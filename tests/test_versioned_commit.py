"""The versioned table's commit path: what every commit carries from its
parent manifest, and what a commit costs in manifest resolutions and
Spark jobs."""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.operators import versioned
from data_ingestion_pipeline_spark.sources.tables import load_table
from tests.conftest import SF_TEST

# Snapshot-level manifest keys: facts about the table that hold from one
# version to the next until an operation changes them.
SNAPSHOT_KEYS = (
    "schema", "partitions", "partition_col", "ts_col", "project_schema",
    "renames", "dv",
)


def _events(spark, n=400):
    return load_table(spark, SF_TEST, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).filter(F.col("event_id") < n)


@pytest.fixture(scope="module")
def bases(spark, tmp_path_factory):
    """Parent tables that hold as many snapshot keys as their layout
    allows. Each case copies one and commits on the copy."""
    root = tmp_path_factory.mktemp("carry")
    ev = _events(spark)
    out = {}

    # day-partitioned: schema, partitions, ts_col, project_schema, renames
    day = str(root / "day_nodv")
    os.makedirs(day)
    versioned.commit_version_partitioned(spark, day, ev.repartition(4))
    versioned.evolve_schema(spark, day, [("quality", "integer")])
    versioned.rename_column(spark, day, "value", "reading")
    out["day_nodv"] = day
    # ... plus a deletion vector
    out["day"] = str(root / "day")
    shutil.copytree(day, out["day"])
    versioned.delete_rows_dv(spark, out["day"], F.col("event_id") % 7 == 0)

    # clustered: schema, partitions, partition_col, project_schema, dv
    cl = str(root / "cluster")
    os.makedirs(cl)
    versioned.commit_version_clustered(
        spark, cl, ev.withColumn("cell", F.col("event_id") % 4), "cell"
    )
    versioned.evolve_schema(spark, cl, [("quality", "integer")])
    versioned.delete_rows_dv(spark, cl, F.col("event_id") % 7 == 0)
    out["cluster"] = cl

    # unpartitioned, z-ordered, then evolved, renamed, DV-deleted and
    # appended to (unclustered files for the incremental z-order)
    flat = str(root / "flat")
    os.makedirs(flat)
    versioned.commit_version(spark, flat, ev.repartition(4))
    versioned.zorder_cluster(spark, flat, ["event_id", "value"], target_files=4)
    versioned.evolve_schema(spark, flat, [("quality", "integer")])
    versioned.rename_column(spark, flat, "event_type", "kind")
    versioned.delete_rows_dv(spark, flat, F.col("event_id") % 7 == 0)
    shifted = (
        versioned.read_version(spark, flat)
        .filter(F.col("event_id") % 5 == 0)
        .withColumn("event_id", F.col("event_id") + 10_000_000)
    )
    versioned.merge_into_mor(
        spark, flat, shifted, ["event_id"], insert_not_matched=True
    )
    out["flat"] = flat
    return out


def _merge(spark, path):
    src = (
        versioned.read_version(spark, path)
        .filter(F.col("event_id") % 5 == 2)
        .select("event_id", (F.col("value") + 1.0).alias("value"))
    )
    return versioned.merge_into_mor(
        spark, path, src, ["event_id"],
        when_matched=[("update", {"value": "s.value"}, None)],
    )


# (base, operation, keys the operation changes)
CARRY_CASES = {
    "evolve_schema": (
        "day",
        lambda s, p: versioned.evolve_schema(s, p, [("note", "string")]),
        {"schema"},
    ),
    "drop_column": (
        "day",
        lambda s, p: versioned.drop_column(s, p, "user_id"),
        {"schema"},
    ),
    "widen_column_type": (
        "day",
        lambda s, p: versioned.widen_column_type(s, p, "quality", "bigint"),
        {"schema"},
    ),
    "rename_column": (
        "day",
        lambda s, p: versioned.rename_column(s, p, "event_type", "kind"),
        {"schema", "renames"},
    ),
    "delete_rows_dv": (
        "day",
        lambda s, p: versioned.delete_rows_dv(s, p, F.col("event_id") % 7 == 1),
        {"dv"},
    ),
    "evolve_schema_clustered": (
        "cluster",
        lambda s, p: versioned.evolve_schema(s, p, [("note", "string")]),
        {"schema"},
    ),
    "delete_rows_dv_clustered": (
        "cluster",
        lambda s, p: versioned.delete_rows_dv(s, p, F.col("event_id") % 7 == 1),
        {"dv"},
    ),
    "update_rows_mor": (
        "flat",
        lambda s, p: versioned.update_rows_mor(
            s, p, F.col("event_id") % 5 == 1, {"value": F.col("value") + 1.0}
        ),
        {"dv"},
    ),
    "merge_into_mor": ("flat", _merge, {"dv"}),
    "drop_partitions_before": (
        "day",
        lambda s, p: versioned.drop_partitions_before(
            s, p, versioned.RETENTION_CUTOFF
        ),
        {"partitions"},
    ),
    "compact_files": (
        "day_nodv",
        lambda s, p: versioned.compact_files(s, p)["version"],
        {"partitions"},
    ),
    "zorder_cluster_incremental": (
        "flat",
        lambda s, p: versioned.zorder_cluster_incremental(
            s, p, ["event_id", "value"], target_files=2
        ),
        set(),
    ),
    "localize_clone": (
        "day",
        lambda s, p: versioned.localize_clone(s, p),
        {"partitions", "dv"},
    ),
}


@pytest.mark.parametrize("case", sorted(CARRY_CASES))
def test_commit_carries_unchanged_snapshot_keys(spark, tmp_path, bases, case):
    """Every carry-forward commit keeps each snapshot key it does not
    change exactly as its parent had it (present or absent), and a
    partitioned commit keeps the tag of every file it carries."""
    base, op, changed = CARRY_CASES[case]
    path = str(tmp_path / "t")
    shutil.copytree(bases[base], path)
    if case == "localize_clone":
        dst = str(tmp_path / "clone")
        versioned.clone_table(spark, path, dst)
        path = dst
    parent = versioned._manifest(path)
    assert op(spark, path) == parent["version"] + 1
    child = versioned._manifest(path)
    for k in SNAPSHOT_KEYS:
        if k not in changed:
            assert child.get(k) == parent.get(k), k
            assert (k in child) == (k in parent), k
    if "partitions" in changed:
        tags = parent["partitions"]
        assert {
            f: t for f, t in child["partitions"].items() if f in tags
        } == {f: tags[f] for f in child["files"] if f in tags}
        assert set(child["partitions"]) == set(child["files"])
    # the operation really exercised what it claims to change
    for k in changed - {"partitions"}:
        assert child.get(k) != parent.get(k), k


def _cost(spark, monkeypatch, fn):
    """(manifest chain resolutions, Spark jobs) one call of fn makes."""
    calls = []
    real = versioned._resolve_chain

    def counting(path, version):
        calls.append(version)
        return real(path, version)

    monkeypatch.setattr(versioned, "_resolve_chain", counting)
    sc = spark.sparkContext
    group = f"commit-cost-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        monkeypatch.setattr(versioned, "_resolve_chain", real)
    return len(calls), len(sc.statusTracker().getJobIdsForGroup(group))


def _flat_table(spark, path):
    os.makedirs(path)
    versioned.commit_version(spark, path, _events(spark).repartition(4))


def _cdc_batch(spark):
    ev = _events(spark)
    b = F.col("event_id") % 10
    return (
        ev.filter(b == 0)
        .withColumn("value", F.col("value") * 2)
        .withColumn("_change_type", F.lit("update_postimage"))
        .unionByName(
            ev.filter(b == 1).withColumn("_change_type", F.lit("delete"))
        )
        .unionByName(
            ev.filter(b == 2)
            .withColumn("event_id", F.col("event_id") + 10_000_000)
            .withColumn("_change_type", F.lit("insert"))
        )
    )


def _cost_cases():
    def commit(spark, path):
        _flat_table(spark, path)
        return lambda: versioned.commit_version(
            spark, path, _events(spark).repartition(4),
            stats_cols=["event_id"], bloom_cols=["event_id"],
        )

    def apply_changes(spark, path):
        _flat_table(spark, path)
        batch = _cdc_batch(spark)
        return lambda: versioned.apply_changes_mor(
            spark, path, batch, ["event_id"]
        )

    def delete(spark, path):
        _flat_table(spark, path)
        return lambda: versioned.delete_rows_dv(
            spark, path, F.col("event_id") % 7 == 0
        )

    def compact(spark, path):
        os.makedirs(path)
        versioned.commit_version_partitioned(
            spark, path, _events(spark).repartition(4)
        )
        return lambda: versioned.compact_files(spark, path)

    def evolve(spark, path):
        _flat_table(spark, path)
        return lambda: versioned.evolve_schema(spark, path, [("q", "integer")])

    return {
        "commit_version": commit,
        "apply_changes_mor": apply_changes,
        "delete_rows_dv": delete,
        "compact_files": compact,
        "evolve_schema": evolve,
    }


# (chain resolutions, Spark jobs) per operation on a one-version table
COMMIT_COST = {
    "commit_version": (3, 9),
    "apply_changes_mor": (1, 15),
    "delete_rows_dv": (1, 2),
    "compact_files": (1, 4),
    "evolve_schema": (1, 0),
}


@pytest.mark.parametrize("op", sorted(COMMIT_COST))
def test_commit_cost_is_pinned(spark, tmp_path, monkeypatch, op):
    """Manifest chain walks and Spark jobs per commit are pinned: a
    commit path that resolves its parent twice, or adds an action,
    fails here before it shows up as bench time."""
    run = _cost_cases()[op](spark, str(tmp_path / "t"))
    assert _cost(spark, monkeypatch, run) == COMMIT_COST[op]
