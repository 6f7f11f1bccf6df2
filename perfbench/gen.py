"""Seeded input generators. The engine only ever sees the files written here.

* Token tables: seed 0 is ``sbse.tokens.synth`` row for row; any other seed
  mixes the seed into the same three xxhash64 draws, so values, keys and
  event times change while the row mix and the source skew stay the same.
  Written with one file per ``range`` split, which splits its ids the same
  way every time, so the same seed gives the same files' contents.
* A delta: fresh rows past the base id range, kept only where
  ``sbse.skew.checkpoint_partition`` puts their (source, key) in one target
  partition, so a checkpointed resume must recompute exactly that one.
* sf directories (``events``, ``documents``, ``embeddings``): seed 0 copies
  the bundled base tables as they are; any other seed permutes rows and
  shifts ids and timestamps, keeping sizes, texts (so the near-duplicate
  structure) and the single-file, single-row-group layout.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sbse import EPOCH0_S
from sbse.dialect import SPARK, token_table_sql
from sbse.skew import checkpoint_partition
from sbse.tokens import synth

BASE_SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "data", "sf0.01")
SF_TABLES = ("events", "documents", "embeddings")

# The base SELECT inside sbse.tokens.synth, which token_frame re-seeds.
_SYNTH_BASE = ("SELECT event_id AS i, value AS v, user_id AS u, "
               "unix_timestamp(ts) AS s0 FROM __IGNORED__")


def token_frame(spark: SparkSession, n_rows: int, seed: int,
                spread_s: int, start: int = 0, n_keys: int = 100) -> DataFrame:
    """Rows ``start .. start + n_rows - 1`` of the seeded token table."""
    if seed == 0 and start == 0:
        return synth(spark, n_rows, n_keys=n_keys, spread_s=spread_s)
    mix = f", {int(seed)}L" if seed else ""
    base = (
        f"SELECT id AS i, "
        f"CAST(pmod(xxhash64(id{mix}), 1000000007) AS DOUBLE) / 1000.0 AS v, "
        f"pmod(xxhash64(id, 1{mix}), {n_keys * 10}) AS u, "
        f"{EPOCH0_S} + pmod(xxhash64(id, 2{mix}), {spread_s}) AS s0 "
        f"FROM range({int(start)}, {int(start) + int(n_rows)})"
    )
    sql = token_table_sql(SPARK, "__IGNORED__").replace(_SYNTH_BASE, base)
    assert "__IGNORED__" not in sql, "token base substitution failed"
    return spark.sql(sql)


def delta_frame(spark: SparkSession, seed: int, spread_s: int, start: int,
                n_candidates: int, n_parts: int, target: int) -> DataFrame:
    """Fresh token rows whose (source, key) all fall in checkpoint partition
    ``target`` of ``n_parts``."""
    cand = token_frame(spark, n_candidates, seed, spread_s, start=start)
    return (checkpoint_partition(cand, n_parts)
            .filter(F.col("ck_part") == target).drop("ck_part"))


def sf_dir(out_dir: str, seed: int, base_dir: str = BASE_SF_DIR) -> str:
    """Write the seeded sf directory; returns ``out_dir``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for t in SF_TABLES:
        src = os.path.join(base_dir, f"{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        if seed == 0:
            shutil.copyfile(src, dst)
            continue
        tab = pq.read_table(src)
        rng = np.random.default_rng([seed, SF_TABLES.index(t)])
        tab = tab.take(pa.array(rng.permutation(tab.num_rows)))
        id_col = {"events": "event_id", "documents": "doc_id",
                  "embeddings": "vec_id"}[t]
        shift = int(rng.integers(1, 1 << 20)) * 1000
        cols = {id_col: pc.add(tab[id_col], pa.scalar(shift, tab[id_col].type))}
        if t == "events":
            # A whole number of seconds plus a sub-second part, so minute,
            # hour and day buckets all move.
            us = int(rng.integers(1, 30 * 86400)) * 1_000_000 + int(
                rng.integers(0, 1_000_000))
            ts = tab["ts"]
            cols["ts"] = pc.cast(
                pc.add(pc.cast(ts, pa.int64()), pa.scalar(us)), ts.type)
        for name, col in cols.items():
            tab = tab.set_column(tab.schema.get_field_index(name), name, col)
        pq.write_table(tab, dst, row_group_size=max(tab.num_rows, 1))
    return out_dir
