"""The two workloads. Each is a fixed sequence of operations run in order
by one client: the benchmark starts the next call only when the previous
one has returned (a closed loop).

Both time warm work. A checked cold pass (span prefix ``cold``) compiles
every plan and starts the Python workers; it is part of set-up. Timed
passes (``timed/1``, ``timed/2``, ...) then run the same calls again,
checked the same way. Their number is fixed by ``--seconds`` and not by
the clock, ``seconds // PASS_S`` and at least one, so a faster program is
measured on the same work as a slower one.

Every call into an ``sbse`` layer runs inside ``Run.span``: the benchmark
times it and, in a traced run, sets the span name as the Spark job
description so the event log can attribute jobs, stages and tasks to it.
"""

from __future__ import annotations

import glob
import os
import shutil
from contextlib import contextmanager

from perfbench import checks
from perfbench.host import Segment, tree_cpu_s

CORES = 4
# A warm pass of either workload, seconds, on the host of the baseline in
# METRICS.md in its faster hours.
PASS_S = 12

# --- batch_rollup ------------------------------------------------------------
N_BASE = 100_000          # token rows before the delta
N_DELTA_CANDIDATES = 10_000
SPREAD_S = 4 * 86400      # event times spread over four days
N_PARTS = 4               # checkpoint partitions the fingerprints cover
KEEP_FROM = "2023-01-03"  # retention keeps the last two of the four days
OUTPUTS = ("sessions", "rollup_1m", "rollup_1h", "rollup_1d", "gapfill_1h",
           "metrics")
STORED = ("rollup_1m", "rollup_1h", "rollup_1d", "gorilla_1h")
# The Gorilla encode runs one pandas call per (source, key, month); the
# store encodes one small receiver's 1h tier to keep the run short.
GORILLA_SOURCE = "src-01"
DATE_COL = {"sessions": "started_at", "rollup_1m": "bucket_start",
            "rollup_1h": "bucket_start", "rollup_1d": "bucket_start",
            "gapfill_1h": "bucket_start"}
PREFIXES = ("tokens", "decode", "locf", "sessions", "tiers", "gapfill",
            "metrics")

# --- query_mix -----------------------------------------------------------------
TS_SET = ("q01_decode", "q16_asof_join", "q43_counter_bigkey")
CURATION_SET = ("q20_dedup_exact", "q22_minhash_lsh", "q25_text_quality",
                "q31_ann_ivf", "q40_pack_sequences", "q44_curation_e2e")
MODULE_QUERIES = {
    "decode": ("q01_decode",),
    "bigkey": ("q43_counter_bigkey",),
    "joins": ("q16_asof_join",),
    "datapipe.dedup": ("q20_dedup_exact", "q22_minhash_lsh"),
    "datapipe.similarity": ("q31_ann_ivf",),
    "datapipe.text": ("q25_text_quality",),
    "datapipe.curate": ("q40_pack_sequences", "q44_curation_e2e"),
}


class Run:
    """Spans, operation outcomes and host-noise samples of one run."""

    def __init__(self, spark, trace: bool, seed: int, work: str,
                 jvm_pid: int):
        self.spark, self.trace, self.seed, self.work = spark, trace, seed, work
        self.jvm_pid = jvm_pid
        self.spans: list[dict] = []
        self.passes = 0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.details: dict = {}

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        if self.trace:
            sc.setJobDescription(name)
        cpu0 = tree_cpu_s(self.jvm_pid)
        seg = Segment().__enter__()
        try:
            yield
        finally:
            seg.__exit__(None, None, None)
            cpu = tree_cpu_s(self.jvm_pid) - cpu0
            if self.trace:
                sc.setJobDescription(None)
            self.spans.append({"name": name, "wall_s": seg.wall_s,
                               "cpu_s": cpu,
                               "steal_pct": round(seg.steal_pct, 3)})

    def wall(self, prefix: str, key: str = "wall_s") -> float:
        """Total over spans named ``prefix`` or below it."""
        return sum(s[key] for s in self.spans
                   if s["name"] == prefix or s["name"].startswith(prefix + "/"))

    def pass_walls(self, key: str = "wall_s") -> list[float]:
        return [self.wall(f"timed/{i}", key)
                for i in range(1, self.passes + 1)]

    def timed(self, passes: int, one_pass) -> None:
        """``one_pass(prefix)`` for timed/1 .. timed/<passes>."""
        for i in range(1, passes + 1):
            self.passes = i
            one_pass(f"timed/{i}")

    def op(self, name: str, fn):
        """One attempted operation; it fails if it raises or returns problems."""
        self.attempted += 1
        try:
            bad = fn() or []
        except Exception as e:  # noqa: BLE001 - every failure is counted
            bad = [f"{name} raised {type(e).__name__}: {str(e)[:300]}"]
        if bad:
            self.failed += 1
            self.problems.extend(bad)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --- batch_rollup ---------------------------------------------------------------

def batch_inputs(spark, seed: int, work: str) -> dict:
    """The token table: a base plus a delta whose (source, key) pairs all
    fall in one checkpoint partition, written together. ``doc_id`` is the
    zero-padded row index, so the base is the ids below the delta's."""
    from pyspark.sql import functions as F

    from perfbench import gen

    target = seed % N_PARTS
    delta = gen.delta_frame(spark, seed, SPREAD_S, start=N_BASE,
                            n_candidates=N_DELTA_CANDIDATES, n_parts=N_PARTS,
                            target=target)
    path = os.path.join(work, "tokens")
    (gen.token_frame(spark, N_BASE, seed, SPREAD_S).unionByName(delta)
     .write.mode("overwrite").parquet(path))
    base_ids = F.col("doc_id") < F.lit("d" + str(N_BASE).zfill(12))
    return {"path": path, "base_filter": base_ids, "target": target,
            "input_bytes": _du(path), "rows": _parquet_rows(path)}


def _observe(df, table: str):
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("rows")]
    if table == "sessions":
        aggs.append(F.sum("n_events").alias("n_events"))
    elif table == "metrics":
        aggs.append(F.max("stored_states").alias("stored_states"))
    else:
        aggs += [F.sum("cnt").alias("cnt"), F.sum("n_tok_sum").alias("n_tok_sum")]
    if table == "gapfill_1h":
        aggs.append(F.sum(F.col("is_gap").cast("long")).alias("gaps"))
    if table == "rollup_1h":
        mine = F.col("source") == GORILLA_SOURCE
        aggs += [F.sum(mine.cast("long")).alias("gorilla_rows"),
                 F.sum(F.when(mine, F.col("n_tok_sum"))).alias(
                     "gorilla_n_tok_sum")]
    if table in DATE_COL:
        kept = F.date_format(DATE_COL[table], "yyyy-MM-dd") >= F.lit(KEEP_FROM)
        aggs.append(F.sum(kept.cast("long")).alias("kept_rows"))
    obs = Observation(f"bench_{table}")
    return df.observe(obs, *aggs), obs


def _pipeline(run: Run, inp: dict, pass_: str) -> tuple[dict, dict]:
    """One full pipeline, every output forced through the noop sink; returns
    the outputs (tiers still cached) and their observed aggregates."""
    from sbse.pipeline import run_pipeline

    with run.span(f"{pass_}/pipeline/plan"):
        tok = run.spark.read.parquet(inp["path"])
        out = run_pipeline(tok, decode_mode="expr", with_gorilla=False,
                           cache_tiers=True)
    observed = {}
    for table in OUTPUTS:
        with run.span(f"{pass_}/pipeline/{table}"):
            df, obs = _observe(out[table], table)
            _noop(df)
        observed[table] = {k: int(v or 0) for k, v in obs.get.items()}
    return out, observed


def _store(run: Run, inp: dict, out: dict, wh: str, pass_: str) -> dict:
    """Write path: the tiers into the catalog, one receiver's 1h tier as
    Gorilla blobs, retention expiry, and the checkpoint fingerprints of the
    input before and after the delta."""
    from pyspark.sql import functions as F

    from sbse import catalog
    from sbse.checkpoint import partition_fingerprints
    from sbse.gorilla import write_blob_tier
    from sbse.skew import checkpoint_partition

    spark, res = run.spark, {"snapshots": {}}
    for t in ("rollup_1m", "rollup_1h", "rollup_1d"):
        with run.span(f"{pass_}/store/write_{t}"):
            res["snapshots"][t] = catalog.write_partitioned(
                out[t], os.path.join(wh, t))
    with run.span(f"{pass_}/store/gorilla"):
        res["snapshots"]["gorilla_1h"] = write_blob_tier(
            out["rollup_1h"].filter(F.col("source") == GORILLA_SOURCE),
            os.path.join(wh, "gorilla_1h"))
    res["files_written"] = _data_files(wh)
    with run.span(f"{pass_}/store/expire"):
        res["dropped"] = {t: catalog.expire_partitions(os.path.join(wh, t),
                                                       KEEP_FROM)
                          for t in STORED if t in DATE_COL}
    tok = spark.read.parquet(inp["path"])
    fps = {}
    for name, df in (("base", tok.filter(inp["base_filter"])), ("final", tok)):
        with run.span(f"{pass_}/store/fingerprint_{name}"):
            fps[name] = partition_fingerprints(checkpoint_partition(df, N_PARTS))
    res["fingerprints"] = fps
    return res


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                                  recursive=True))


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def _data_files(path: str) -> int:
    return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _gorilla_points(path: str) -> dict:
    """Decode every stored blob; totals of points, values and blob bytes."""
    import pyarrow.dataset as ds

    from sbse.gorilla import decode_points

    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["n_points", "blob"])
    res = {"n_points": 0, "decoded": 0, "value_sum": 0.0, "bytes": 0}
    for n, blob in zip(t.column("n_points").to_pylist(),
                       t.column("blob").to_pylist()):
        _ts, vals = decode_points(blob)
        res["n_points"] += n
        res["decoded"] += len(vals)
        res["value_sum"] += sum(vals)
        res["bytes"] += len(blob)
    return res


def batch_pass(run: Run, inp: dict, pass_: str) -> None:
    """One checked pass of pipeline + store under span prefix ``pass_``."""
    d = run.details
    wh = os.path.join(run.work, pass_.replace("/", "-"), "warehouse")
    state: dict = {}

    def pipeline():
        state["out"], obs = _pipeline(run, inp, pass_)
        d["observed"] = obs
        bad = checks.conservation(obs)
        if run.seed == 0:
            bad += checks.pinned(obs, checks.PINNED_SEED0)
        return bad

    def store():
        obs, out = d["observed"], state["out"]
        res = _store(run, inp, out, wh, pass_)
        g = _gorilla_points(os.path.join(wh, "gorilla_1h"))
        d.update(files_written=res["files_written"],
                 fingerprints_changed=sum(
                     res["fingerprints"]["base"].get(p) !=
                     res["fingerprints"]["final"].get(p)
                     for p in range(N_PARTS)),
                 partitions_dropped=sum(len(v) for v in res["dropped"].values()),
                 stored_bytes={t: _du(os.path.join(wh, t)) for t in STORED},
                 gorilla=g)
        written = {t: s["total_rows"] for t, s in res["snapshots"].items()}
        written["gorilla_points"] = g["decoded"]
        plain = {t: obs[t]["rows"] for t in STORED if t in obs}
        plain["gorilla_points"] = obs["rollup_1h"]["gorilla_rows"]
        bad = checks.stored_totals(written, plain)
        if g["value_sum"] != obs["rollup_1h"]["gorilla_n_tok_sum"]:
            bad.append(f"gorilla values sum {g['value_sum']} != rollup_1h "
                       f"{GORILLA_SOURCE} n_tok_sum "
                       f"{obs['rollup_1h']['gorilla_n_tok_sum']}")
        kept = {t: obs[t]["kept_rows"] for t in STORED if t in DATE_COL}
        stored = {t: _parquet_rows(os.path.join(wh, t)) for t in kept}
        bad += [f"after expiry: {m}"
                for m in checks.stored_totals(stored, kept)]
        fp = res["fingerprints"]
        bad += checks.fingerprints(fp["base"], fp["final"], N_PARTS,
                                   inp["target"], inp["rows"])
        return bad

    d.pop("observed", None)
    try:
        run.op(f"{pass_}/pipeline", pipeline)
        if "observed" in d:
            run.op(f"{pass_}/store", store)
        else:
            run.attempted += 1
            run.failed += 1
            run.problems.append(f"{pass_}/store skipped: the pipeline failed")
    finally:
        for t in ("rollup_1m", "rollup_1h"):
            if t in state.get("out", {}):
                state["out"][t].unpersist()
        shutil.rmtree(wh, ignore_errors=True)


def batch_traced_extras(run: Run, inp: dict) -> dict:
    """Traced run only: one prefix span per public layer call, each forced
    through the noop sink; a layer's self time is its span minus the span
    of the prefix it extends."""
    from sbse import GAP_MS_NORTH
    from sbse.decode import decode
    from sbse.metrics import run_metrics
    from sbse.rollup import gapfill_locf, tier_tables
    from sbse.sessionize import locf_merge, session_rollup, sessionize, states_only

    tok = run.spark.read.parquet(inp["path"])
    dec = decode(tok, mode="expr")
    merged = locf_merge(states_only(dec))
    sess = session_rollup(sessionize(merged, gap_ms=GAP_MS_NORTH,
                                     close_trailing=True))
    frames = {
        "tokens": tok,
        "decode": dec,
        "locf": merged,
        "sessions": sess,
        "tiers": tier_tables(merged)["1d"],
        "gapfill": gapfill_locf(tier_tables(merged)["1h"], "hour"),
        "metrics": run_metrics(dec, sess),
    }
    t = {}
    for name in PREFIXES:
        with run.span(f"prefix/{name}"):
            _noop(frames[name])
        t[name] = run.spans[-1]["wall_s"]
    return t


# --- query_mix -------------------------------------------------------------------

def query_oracles(sf: str, names) -> dict:
    """DuckDB answers for every query: {name: (frame, {column: type})}."""
    import duckdb

    from sbse.oracle import oracles

    sql = oracles()
    con = duckdb.connect(config={"threads": CORES})
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf, t + '.parquet')}')")
    want = {}
    for name in names:
        rel = con.sql(sql[name])
        want[name] = (rel.df(), dict(zip(rel.columns, map(str, rel.types))))
    con.close()
    return want


def query_check_pass(run: Run, sf: str, want: dict, names) -> dict:
    """The cold pass: collect each query's result and compare it with its
    DuckDB answer in ``want``; {query: problems}. It also compiles every
    plan and starts the Python workers."""
    from sbse.queries import all_queries

    qs = all_queries()
    found: dict[str, list[str]] = {}
    for name in names:
        try:
            with run.span(f"cold/queries/{name}"):
                df = qs[name](run.spark, sf)
                got = df.toPandas()
            types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
            w, wtypes = want[name]
            found[name] = checks.frame_matches(name, got, types, w, wtypes)
        except Exception as e:  # noqa: BLE001 - counted against the query
            found[name] = [f"{name} check pass raised {type(e).__name__}: "
                           f"{str(e)[:300]}"]
    return found


def query_pass(run: Run, sf: str, found: dict, names, pass_: str) -> None:
    """One timed pass: each query forced through the noop sink. A query
    fails if it raises here or its check in the cold pass failed."""
    from sbse.queries import all_queries

    qs = all_queries()
    for name in names:
        def timed(name=name):
            with run.span(f"{pass_}/queries/{name}"):
                _noop(qs[name](run.spark, sf))
            return found[name]

        run.op(f"{pass_}/{name}", timed)
