"""Tests of the benchmark itself: seeded generators, output checks and the
event-log reader.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import checks, eventlog, gen, report  # noqa: E402

TINY_LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.jsonl")


# --- generators ------------------------------------------------------------------

def _read(path):
    import pyarrow.parquet as pq

    return pq.read_table(path)


def test_sf_dir_seed0_is_the_base_tables(tmp_path):
    out = gen.sf_dir(str(tmp_path / "s0"), 0)
    for t in gen.SF_TABLES:
        with open(os.path.join(out, f"{t}.parquet"), "rb") as a, \
                open(os.path.join(gen.BASE_SF_DIR, f"{t}.parquet"), "rb") as b:
            assert a.read() == b.read(), t


def test_sf_dir_is_deterministic_per_seed(tmp_path):
    a = gen.sf_dir(str(tmp_path / "a"), 7)
    b = gen.sf_dir(str(tmp_path / "b"), 7)
    c = gen.sf_dir(str(tmp_path / "c"), 8)
    for t in gen.SF_TABLES:
        fa, fb, fc = (os.path.join(d, f"{t}.parquet") for d in (a, b, c))
        with open(fa, "rb") as x, open(fb, "rb") as y:
            assert x.read() == y.read(), t
        assert not _read(fa).equals(_read(fc)), t


def test_sf_dir_keeps_sizes_texts_and_layout(tmp_path):
    import pyarrow.parquet as pq

    out = gen.sf_dir(str(tmp_path / "s"), 3)
    for t in gen.SF_TABLES:
        got = pq.ParquetFile(os.path.join(out, f"{t}.parquet"))
        base = pq.ParquetFile(os.path.join(gen.BASE_SF_DIR, f"{t}.parquet"))
        assert got.metadata.num_rows == base.metadata.num_rows
        assert got.metadata.num_row_groups == 1
        assert got.schema_arrow == base.schema_arrow
    docs = _read(os.path.join(out, "documents.parquet")).to_pandas()
    base_docs = _read(os.path.join(gen.BASE_SF_DIR,
                                   "documents.parquet")).to_pandas()
    assert sorted(docs.text) == sorted(base_docs.text)
    assert docs.doc_id.is_unique
    assert set(docs.doc_id).isdisjoint(set(base_docs.doc_id))


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-tests")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.warehouse.dir",
                 str(tmp_path_factory.mktemp("warehouse")))
         .getOrCreate())
    yield s
    s.stop()


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_token_seed0_is_synth(spark):
    from sbse.tokens import synth

    a = gen.token_frame(spark, 3000, 0, 86400)
    assert _rows(a) == _rows(synth(spark, 3000, spread_s=86400))
    # the seeded SQL with seed 0 reproduces synth past its first row
    tail = gen.token_frame(spark, 1000, 0, 86400, start=2000)
    assert _rows(tail) == [r for r in _rows(a) if r[0] >= "d000000002000"]


def test_token_seeds_are_deterministic_and_distinct(spark, tmp_path):
    a = _rows(gen.token_frame(spark, 2000, 5, 86400))
    assert a == _rows(gen.token_frame(spark, 2000, 5, 86400))
    assert a != _rows(gen.token_frame(spark, 2000, 6, 86400))
    p1 = str(tmp_path / "t1")
    gen.token_frame(spark, 2000, 5, 86400).write.parquet(p1)
    assert _rows(spark.read.parquet(p1)) == a


def test_delta_falls_in_one_checkpoint_partition(spark):
    from sbse.skew import checkpoint_partition

    d = gen.delta_frame(spark, 4, 86400, start=5000, n_candidates=2000,
                        n_parts=4, target=2)
    parts = {r.ck_part for r in checkpoint_partition(d, 4)
             .select("ck_part").distinct().collect()}
    assert parts == {2}
    assert d.count() > 0


# --- output checks -----------------------------------------------------------------

def _obs():
    return {
        "sessions": {"rows": 90, "n_events": 1000},
        "rollup_1m": {"rows": 300, "cnt": 1000, "n_tok_sum": 22000},
        "rollup_1h": {"rows": 40, "cnt": 1000, "n_tok_sum": 22000},
        "rollup_1d": {"rows": 8, "cnt": 1000, "n_tok_sum": 22000},
        "gapfill_1h": {"rows": 55, "gaps": 15, "cnt": 1000, "n_tok_sum": 22000},
        "metrics": {"rows": 1, "stored_states": 1000},
    }


def test_conservation_accepts_consistent_outputs():
    assert checks.conservation(_obs()) == []


@pytest.mark.parametrize("table,field,delta", [
    ("sessions", "n_events", -1),      # one event dropped from a session
    ("rollup_1m", "cnt", -1),          # one row dropped from the 1m tier
    ("rollup_1d", "n_tok_sum", 7),     # one value altered in the 1d tier
    ("gapfill_1h", "rows", -1),        # one filled bucket dropped
    ("metrics", "stored_states", 1),
    ("metrics", "rows", 1),
])
def test_conservation_rejects_planted_errors(table, field, delta):
    obs = _obs()
    obs[table][field] += delta
    assert checks.conservation(obs)


def test_pinned_rejects_a_dropped_row():
    obs = {t: {"rows": n} for t, n in checks.PINNED_SEED0.items()}
    assert checks.pinned(obs, checks.PINNED_SEED0) == []
    obs["rollup_1h"]["rows"] -= 1
    assert checks.pinned(obs, checks.PINNED_SEED0)


def test_fingerprints_accept_only_the_target_partition():
    base = {0: (10, 111), 1: (12, 222), 2: (9, 333)}
    final = {**base, 1: (14, 999)}
    assert checks.fingerprints(base, final, 3, 1, 33) == []
    assert checks.fingerprints(base, final, 3, 2, 33)          # wrong partition
    assert checks.fingerprints(base, {**final, 0: (10, 5)}, 3, 1, 33)
    assert checks.fingerprints(base, final, 3, 1, 34)          # a dropped row


def test_stored_totals_reject_a_missing_row():
    assert checks.stored_totals({"a": 5, "b": 3}, {"a": 5, "b": 3}) == []
    assert checks.stored_totals({"a": 5, "b": 2}, {"a": 5, "b": 3})


def _frames():
    got = pd.DataFrame({"k": [3, 1, 2], "v": [0.5, 1.25, 2.0],
                        "s": ["c", "a", "b"],
                        "arr": [[3], [1, 1], [2]]})
    want = got.iloc[[1, 2, 0]].reset_index(drop=True)  # another row order
    types = {"k": "bigint", "v": "double", "s": "string", "arr": "array<int>"}
    wtypes = {"k": "BIGINT", "v": "DOUBLE", "s": "VARCHAR", "arr": "INTEGER[]"}
    return got, types, want, wtypes


def test_frame_matches_is_order_insensitive():
    got, types, want, wtypes = _frames()
    assert checks.frame_matches("q", got, types, want, wtypes) == []


def test_frame_matches_rejects_planted_errors():
    got, types, want, wtypes = _frames()
    assert checks.frame_matches("q", got.iloc[:2], types, want, wtypes)
    altered = got.copy()
    altered.loc[0, "v"] = 0.5000001
    assert checks.frame_matches("q", altered, types, want, wtypes)
    altered = got.copy()
    altered.at[1, "arr"] = [1, 2]
    assert checks.frame_matches("q", altered, types, want, wtypes)
    assert checks.frame_matches("q", got.rename(columns={"s": "t"}),
                                dict(types, t="string"), want, wtypes)
    assert checks.frame_matches("q", got, dict(types, k="string"), want, wtypes)


# --- event log ---------------------------------------------------------------------

def test_eventlog_known_numbers():
    log = eventlog.EventLog.read(TINY_LOG)
    agg = log.span_stats("bench/agg")
    assert (agg["jobs"], agg["stages"], agg["tasks"]) == (3, 3, 4)
    assert agg["failed_tasks"] == 0
    assert agg["shuffle_write_bytes"] == 364
    assert agg["run_s"] == pytest.approx(0.896)
    assert agg["python_rows"] == 0
    assert eventlog.scan_passes(agg["nodes"], "/data/tokens") == 1
    py = log.span_stats("bench/py")
    assert (py["jobs"], py["tasks"], py["python_rows"]) == (1, 2, 100)
    both = log.span_stats("bench")
    assert both["jobs"] == 4
    assert both["run_s"] == pytest.approx(agg["run_s"] + py["run_s"])
    assert log.span_stats("bench/agg", exact=True)["jobs"] == 3
    assert log.span_stats("bench", exact=True)["jobs"] == 0


def test_reconcile_bounds_task_time_by_wall_times_cores():
    assert eventlog.reconcile(3.9, 1.0, 4)
    assert not eventlog.reconcile(4.5, 1.0, 4)


# --- the metric list the benchmark declares ----------------------------------------

def test_benchmark_json_names_match_the_report():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(
        report.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(
        report.PER_LAYER)
