"""Monster-key chunked operators (sbse.bigkey) — SURVEY §4.3 item 3.

Equality contracts: the chunked LOCF + session pass / groupBy rollup /
chunked counter must equal the plain window versions row-for-row on any
input, including streams whose sessions straddle many chunk boundaries;
plus a single-hot-key run at millions of events with an ANALYTIC ground
truth (the case that pins the plain path to one sort task — the
reference's unbounded per-key map defect, cmd/tracker/main.go:51-53)."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, make_token_rows


def _states(spark):
    from sbse.decode import decode
    from sbse.queries import _decoded
    from sbse.sessionize import states_only

    return states_only(_decoded(spark, SF_DIR)).localCheckpoint()


def _sym_diff(a, b):
    cols = sorted(a.columns)
    assert sorted(b.columns) == cols, (sorted(b.columns), cols)
    return (a.select(cols).exceptAll(b.select(cols)).count()
            + b.select(cols).exceptAll(a.select(cols)).count())


def _plain_events(st):
    """The plain chain's per-event output, less the columns the chunked
    pass does not emit."""
    from sbse.sessionize import locf_merge, sessionize

    return sessionize(locf_merge(st), gap_ms=30_000).drop(
        "new_sess", "s_start", "session_id")


def test_locf_chunked_equals_plain(spark):
    """The chunked pass's LOCF part: its input columns plus the ``{c}_m``
    columns equal locf_merge per event, schema (column order included)
    and rows, with 2-minute chunks on real harness data."""
    from sbse.bigkey import chunked_sessions
    from sbse.sessionize import locf_merge

    st = _states(spark)
    a = locf_merge(st)
    b = chunked_sessions(st, gap_ms=30_000, chunk_ms=120_000).select(a.columns)
    assert b.schema == a.schema
    assert _sym_diff(a, b) == 0


def test_sessionize_chunked_equals_plain(spark):
    """Per event, the chunked LOCF + session pass equals the plain chain,
    schema (column order included) and rows: on real harness data with
    2-minute chunks against 30 s gaps (plenty of straddles and multi-chunk
    chains), a chunk barely over the gap, and chunk_ms == gap_ms + 1; and on
    its empty and one-row subsets, through the session rollup too."""
    from sbse.bigkey import chunked_sessions, monster_safe_sessions
    from sbse.sessionize import locf_merge, session_rollup, sessionize

    st = _states(spark)
    empty = st.limit(0).localCheckpoint()
    one = st.orderBy("source", "key", "ts", "seq").limit(1).localCheckpoint()
    for sub in (st, empty, one):
        a = _plain_events(sub)
        for chunk_ms in (120_000, 31_000, 30_001):
            b = chunked_sessions(sub, gap_ms=30_000, chunk_ms=chunk_ms)
            assert b.schema == a.schema, chunk_ms
            assert _sym_diff(a, b) == 0, chunk_ms
    for sub, n in ((empty, 0), (one, 1)):
        plain = session_rollup(sessionize(locf_merge(sub), gap_ms=30_000))
        chunked = monster_safe_sessions(sub, gap_ms=30_000, chunk_ms=120_000)
        assert _sym_diff(plain, chunked) == 0
        assert chunked.count() == n


def test_rollup_agg_equals_window(spark):
    from sbse.bigkey import session_rollup_agg
    from sbse.sessionize import locf_merge, session_rollup, sessionize

    s = sessionize(locf_merge(_states(spark)), gap_ms=30_000)
    assert session_rollup_agg(s).schema == session_rollup(s).schema
    assert _sym_diff(session_rollup(s), session_rollup_agg(s)) == 0


def test_chunk_must_exceed_gap(spark):
    from sbse.bigkey import chunked_sessions, monster_safe_sessions

    for op in (chunked_sessions, monster_safe_sessions):
        with pytest.raises(ValueError, match="chunk_ms"):
            op(_states(spark), gap_ms=30_000, chunk_ms=30_000)


def test_full_chain_property_random_streams(spark):
    """Hypothesis property: chunked_sessions == plain chain per event, and
    monster_safe_sessions == plain chain per session, for random per-key
    streams with random chunk sizes (boundary straddles, chains of
    single-session chunks, duplicate timestamps)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sbse.bigkey import chunked_sessions, monster_safe_sessions
    from sbse.decode import decode
    from sbse.sessionize import locf_merge, session_rollup, sessionize, states_only
    from tests.test_sessionize import mk

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=3000),
                 min_size=1, max_size=30),
        st.sampled_from([30_001, 31_000, 45_000, 120_000]),
    )
    def check(secs, chunk_ms):
        # two keys, sparse non-zero fields so LOCF carry-in matters
        rows = [
            mk(i, s, key=1 + (i % 2), alt=(i % 3) * 100, callsign=i % 2,
               lat=(i % 4), gs=(i % 5))
            for i, s in enumerate(sorted(secs))
        ]
        df = make_token_rows(spark, rows)
        st_df = states_only(decode(df, "expr")).localCheckpoint()
        plain = session_rollup(
            sessionize(locf_merge(st_df), gap_ms=30_000)
        )
        chunked = monster_safe_sessions(st_df, gap_ms=30_000, chunk_ms=chunk_ms)
        assert _sym_diff(plain, chunked) == 0, (secs, chunk_ms)
        events = chunked_sessions(st_df, gap_ms=30_000, chunk_ms=chunk_ms)
        assert _sym_diff(_plain_events(st_df), events) == 0, (secs, chunk_ms)

    check()


def test_monster_single_key_analytic(spark):
    """One (source, key) with 2M events at 1 Hz and a > gap jump every 50k
    events: exactly 40 sessions of 50k events each, boundaries analytic.
    The plain path would sort all 2M rows in ONE window task; the chunked
    path bounds every partition to a 1-hour chunk (3.6k rows) and still
    produces the exact session set."""
    from sbse.bigkey import monster_safe_sessions

    n, per, gap_jump_s = 2_000_000, 50_000, 60
    ev = spark.range(n).select(
        F.lit("hot").alias("source"),
        F.lit(7777).cast("long").alias("key"),
        # second i of session j starts at j*(per + gap_jump_s) + i
        (F.lit(1704067200)  # 2024-01-01 UTC
         + (F.col("id") / per).cast("long") * F.lit(gap_jump_s)
         + F.col("id")).alias("_sec"),
        F.col("id").alias("seq"),
    ).select(
        "source", "key", F.timestamp_seconds(F.col("_sec")).alias("ts"), "seq",
        F.lit("AB").alias("callsign"), F.lit(100).alias("altitude"),
        F.lit(1.0).alias("ground_speed"), F.lit(0.0).alias("track"),
        F.lit(1.0).alias("lat"), F.lit(2.0).alias("lon"),
        F.lit(0).alias("vertical_rate"), F.lit("7700").alias("squawk"),
        F.lit(False).alias("on_ground"), F.lit(3).alias("n_tok"),
    )
    out = monster_safe_sessions(ev, gap_ms=30_000, chunk_ms=3_600_000)
    rows = out.orderBy("started_at").collect()
    assert len(rows) == n // per
    assert all(r.n_events == per for r in rows)
    assert all(r.max_altitude == 100 for r in rows)
    # boundaries: session j spans [base + j*(per+jump), ... + per - 1]
    base = 1704067200
    for j, r in enumerate(rows):
        start = base + j * (per + gap_jump_s)
        assert int(r.started_at.timestamp()) == start, j
        assert int(r.ended_at.timestamp()) == start + per - 1, j
    # only the last session is open-able
    assert [r.is_open for r in rows] == [False] * (len(rows) - 1) + [True]


def test_pipeline_bigkey_mode_equals_plain(spark):
    """run_pipeline(bigkey_chunk_ms=...) must produce the same states,
    sessions and tiers as the plain window path — the production switch for
    hot keys. ``states`` keeps the plain schema exactly (column order
    included): the checkpointed job writes it."""
    from sbse.pipeline import run_pipeline
    from sbse.tokens import synth

    tok = synth(spark, 30_000).localCheckpoint()
    plain = run_pipeline(tok, decode_mode="expr", with_gorilla=False)
    big = run_pipeline(tok, decode_mode="expr", with_gorilla=False,
                       bigkey_chunk_ms=120_000)
    for table in ("states", "sessions", "rollup_1m", "rollup_1d", "gapfill_1h"):
        assert big[table].schema == plain[table].schema, table
        assert _sym_diff(plain[table], big[table]) == 0, table


def test_counter_chunked_equals_plain_across_boundaries(spark):
    """Counter resets and increases that straddle chunk boundaries stitch
    exactly: the chunked twin equals rollup.counter_increase row-for-row,
    including a key whose only reset is the first sample of a chunk."""
    import datetime as dt

    from sbse.bigkey import counter_increase_chunked
    from sbse.rollup import counter_increase

    def row(key, sec, n_tok, seq):
        return {"source": "s", "key": key,
                "ts": dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec),
                "seq": seq, "n_tok": n_tok}

    rows = []
    # key 1: monotone ramp crossing many 10s chunks
    rows += [row(1, i * 7, 10 + i, i) for i in range(40)]
    # key 2: reset exactly at a chunk boundary (sec=20 with chunk_ms=10s)
    rows += [row(2, 0, 50, 100), row(2, 10, 60, 101),
             row(2, 20, 5, 102), row(2, 30, 6, 103)]
    # key 3: single sample (no baseline, contributes 0)
    rows += [row(3, 5, 99, 200)]
    states = spark.createDataFrame(rows)

    plain = {tuple(sorted(r.asDict().items()))
             for r in counter_increase(states, "minute").collect()}
    chunked = {tuple(sorted(r.asDict().items()))
               for r in counter_increase_chunked(
                   states, "minute", chunk_ms=10_000).collect()}
    assert plain == chunked
    # sanity on the boundary reset: key 2's minute-0 increase is 10 + 5
    k2 = [dict(t) for t in plain if dict(t)["key"] == 2]
    assert sum(r["tok_increase"] for r in k2) == 10 + 5 + 1
    assert sum(r["n_resets"] for r in k2) == 1


def test_with_chunk_refuses_mismatched_reuse(spark):
    """Any pre-existing _chunk is refused instead of trusted — one stamped
    with a different chunk size (as the removed reuse protocol wrote it), one
    stamped with the SAME size, and an unstamped one: none can be proven to
    match this operator's chunking. A fresh frame gets the floor column."""
    import pytest
    from pyspark.sql import functions as F

    from sbse.bigkey import (_with_chunk, chunked_sessions,
                             counter_increase_chunked)

    df = spark.createDataFrame(
        [("s", 1, "2024-01-01 00:00:01", 1, 3)],
        "source string, key bigint, ts string, seq bigint, n_tok int",
    ).withColumn("ts", F.to_timestamp("ts"))
    c = _with_chunk(df, 120_000)
    assert c.columns == df.columns + ["_chunk"]
    assert c.collect()[0]["_chunk"] == 1704067201000 // 120_000
    chunk = F.floor(F.unix_millis("ts") / F.lit(120_000))
    stamped = [df.select("*", chunk.alias("_chunk", metadata={"chunk_ms": ms}))
               for ms in (60_000, 120_000)]
    unstamped = df.withColumn("_chunk", F.lit(0))
    for bad in [c, *stamped, unstamped]:
        with pytest.raises(ValueError, match="_chunk"):
            _with_chunk(bad, 120_000)
        with pytest.raises(ValueError, match="_chunk"):
            chunked_sessions(bad, gap_ms=30_000, chunk_ms=120_000)
    # q43's operator selects its columns first, so a stray _chunk is
    # pruned rather than trusted
    assert counter_increase_chunked(unstamped, chunk_ms=120_000).count() == 1
