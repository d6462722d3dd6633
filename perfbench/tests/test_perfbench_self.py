"""Self-tests of the benchmark's own code; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pyarrow.parquet as pq
import pytest

import harness
import inputs
import metrics
from tracing import Job, Span, attribute_jobs, children, gap_ms, self_ms, union_ms

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "BENCHMARK.json")
NAME = re.compile(r"[A-Za-z0-9_.-]+")


# ---------------------------------------------------------------- inputs

def _digest(path: str) -> bytes:
    return pq.read_table(path).to_pandas().to_csv().encode()


def test_query_inputs_are_deterministic_per_seed(tmp_path):
    inputs.write_query_inputs(5, str(tmp_path / "a"))
    inputs.write_query_inputs(5, str(tmp_path / "b"))
    inputs.write_query_inputs(6, str(tmp_path / "c"))
    a, b, c = (_digest(str(tmp_path / d / "events.parquet")) for d in "abc")
    assert a == b and a != c
    assert inputs.query_requests(5, 50) == inputs.query_requests(5, 50)
    assert inputs.query_requests(5, 50) != inputs.query_requests(6, 50)


def _repeats(reqs: list[dict]) -> list[bool]:
    seen, out = set(), []
    for r in reqs:
        key = json.dumps(r, sort_keys=True)
        out.append(key in seen)
        seen.add(key)
    return out


def test_query_repeats_come_from_the_draws_and_match_across_seeds():
    reqs = inputs.query_requests(5, 200)
    assert [r["kind"] for r in reqs[:4]] == list(inputs.QUERY_KINDS)
    repeats = sum(_repeats(reqs))
    latest = sum(r["kind"] == "latest" for r in reqs)
    # besides `latest`, which has no parameters, the Zipf-skewed stations repeat
    assert latest - 1 < repeats < len(reqs) / 2
    # another seed asks about other stations, with the same repeats
    other = inputs.query_requests(6, 200)
    assert [r.get("station") for r in other] != [r.get("station") for r in reqs]
    assert _repeats(other) == _repeats(reqs)


def test_ingest_feed_is_deterministic_and_redelivers_earlier_keys(tmp_path):
    feeds = [inputs.IngestFeed(3, str(tmp_path / d / "feed")) for d in ("a", "b")]
    paths = [[f.write_next() for _ in range(4)] for f in feeds]
    for pa_, pb in zip(*paths):
        assert _digest(pa_) == _digest(pb)
    seen = set()
    for i, p in enumerate(paths[0]):
        t = pq.read_table(p)
        keys = list(zip(t.column("user_id").to_pylist(), t.column("ts").to_pylist()))
        fresh, redelivered = keys[:inputs.INGEST_FRESH], keys[inputs.INGEST_FRESH:]
        assert len(set(fresh)) == len(fresh) and not seen & set(fresh)
        assert set(redelivered) <= seen and len(redelivered) == (inputs.INGEST_REDELIVER if i else 0)
        seen |= set(fresh)
    mtimes = [os.stat(p).st_mtime_ns for p in paths[0]]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)


def test_near_dup_inputs_are_deterministic_and_plant_larger_id_copies(tmp_path):
    a = inputs.write_near_dup_inputs(9, str(tmp_path / "a"))
    b = inputs.write_near_dup_inputs(9, str(tmp_path / "b"))
    assert a == b
    for name in ("documents.parquet", "embeddings.parquet"):
        assert _digest(str(tmp_path / "a" / name)) == _digest(str(tmp_path / "b" / name))
    assert len(a["doc_pairs"]) == inputs.DOC_PLANTED
    assert all(src < copy for src, copy in a["doc_pairs"] + a["emb_pairs"])
    emb = np.array(pq.read_table(str(tmp_path / "a" / "embeddings.parquet"))
                   .column("embedding").to_pylist())
    assert np.abs(emb).max() <= inputs.EMB_CLIP
    for src, copy in a["emb_pairs"]:
        cos = emb[src] @ emb[copy] / np.linalg.norm(emb[src]) / np.linalg.norm(emb[copy])
        assert cos > 0.8


def test_cdc_batch_keys_are_distinct_and_live():
    rng = np.random.default_rng(1)
    live = np.arange(1000)
    t = inputs.cdc_batch(rng, live, 5000)
    ids = t.column("event_id").to_pylist()
    kinds = t.column("_change_type").to_pylist()
    assert len(set(ids)) == len(ids)
    assert all((i >= 5000) == (k == "insert") for i, k in zip(ids, kinds))


# ----------------------------------------------------------- percentiles

@pytest.mark.parametrize("n,expected", [(1, False), (99, False), (100, True), (1000, True)])
def test_p90_needs_ten_samples_beyond_it(n, expected):
    assert harness.has_p90(n) == expected


def test_percentile_nearest_rank():
    values = list(range(1, 101))
    assert harness.percentile(values, 50) == 50
    assert harness.percentile(values, 90) == 90
    assert harness.percentile(values, 100) == 100


# ------------------------------------------------------- span arithmetic

def _span(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", start, end, parent=parent)


def test_union_merges_overlaps_and_clips():
    assert union_ms([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)], 0.0, 10.0) == pytest.approx(3000.0)
    assert union_ms([(0.0, 1.0), (3.0, 4.0)], 0.5, 3.5) == pytest.approx(1000.0)
    assert union_ms([], 0.0, 1.0) == 0.0


def test_self_time_subtracts_the_union_of_children():
    root = _span(0, 0.0, 10.0)
    spans = [root, _span(1, 1.0, 4.0, 0), _span(2, 3.0, 5.0, 0), _span(3, 3.5, 4.5, 1)]
    assert self_ms(root, children(spans)) == pytest.approx(6000.0)


def test_driver_gap_is_wall_minus_jobs_of_the_subtree():
    root, child = _span(0, 0.0, 10.0), _span(1, 5.0, 9.0, 0)
    root.jobs = [Job(0, 1.0, 2.0)]
    child.jobs = [Job(1, 6.0, 8.0), Job(2, 7.0, 8.5)]
    kids = children([root, child])
    assert gap_ms(root, kids) == pytest.approx(10000.0 - 1000.0 - 2500.0)
    assert gap_ms(child, kids) == pytest.approx(4000.0 - 2500.0)


def test_jobs_go_to_their_group_else_the_innermost_open_span():
    outer, inner = _span(0, 0.0, 10.0), _span(1, 2.0, 4.0, 0)
    grouped = Job(0, 3.0, 3.5, group="pb-0")  # carries the outer group while inside inner
    untagged = Job(1, 3.0, 3.5)  # e.g. a foreachBatch callback thread
    outside = Job(2, 11.0, 12.0)
    orphans = attribute_jobs([outer, inner], [grouped, untagged, outside])
    assert outer.jobs == [grouped] and inner.jobs == [untagged] and orphans == [outside]


# --------------------------------------------------------------- metrics

def test_metric_names_and_counts():
    for name in list(metrics.END_TO_END) + list(metrics.PER_LAYER):
        assert NAME.fullmatch(name) and len(name) <= 64 and name[0].isalnum()
    assert len(metrics.END_TO_END) <= 16
    assert len(metrics.PER_LAYER) <= 128
    assert not set(metrics.END_TO_END) & set(metrics.PER_LAYER)


def test_benchmark_json_matches_the_catalog():
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert list(e2e) == list(metrics.END_TO_END)
    for name, (unit, better, _) in metrics.END_TO_END.items():
        assert (e2e[name]["unit"], e2e[name]["better"]) == (unit, better)
        assert 0 < e2e[name]["bound"] <= 0.25
    layer = {m["name"]: m for m in spec["per_layer"]}
    assert list(layer) == list(metrics.PER_LAYER)
    assert all((layer[k]["unit"], layer[k]["better"]) == (u, b) for k, (u, b, _) in metrics.PER_LAYER.items())
    import workloads

    assert 2 <= len(spec["workloads"]) <= 8
    for w in spec["workloads"]:
        assert w["name"] in workloads.WORKLOADS and 0 < len(w["why"]) <= 200
