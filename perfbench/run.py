"""sbse benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch_rollup --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, read from the Spark event log of a traced run.
The line before it is a detail record with every timed span, its steal
share, load averages and sample counts. See perfbench/METRICS.md.

Everything the run writes goes under perfbench/_work/ and is removed at the
end; every process it starts is stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOADS = ("batch_rollup", "query_mix")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Internal: run only the first timed phase untraced and print its wall
    # time (the reference a traced run's overhead is measured against).
    p.add_argument("--probe", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # Python workers import sbse from this checkout.
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")


def _probe_overhead_reference(args) -> float:
    """Wall time of the first timed phase in a fresh untraced process."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           args.workload, "--seed", str(args.seed), "--seconds",
           str(args.seconds), "--trace", "0", "--probe"]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True, timeout=150)
    lines = [ln for ln in res.stdout.splitlines() if ln.strip()]
    if res.returncode != 0 or not lines:
        raise RuntimeError(f"overhead probe exited {res.returncode}")
    return float(json.loads(lines[-1])["phase1_s"])


def run(args, work: str) -> dict:
    from perfbench import host, report, session, workloads as W
    from perfbench.host import Segment

    trace = bool(args.trace) and not args.probe
    ref_s = _probe_overhead_reference(args) if trace else None
    load_start = host.loadavg()

    # Inputs and answers that need no Spark are made before it starts.
    want = sf = None
    names = W.TS_SET if args.probe else W.TS_SET + W.CURATION_SET
    t0 = time.monotonic()
    if args.workload == "query_mix":
        from perfbench import gen

        sf = gen.sf_dir(os.path.join(work, "sf"), args.seed)
        want = W.query_oracles(sf, names)
    inputs_s = time.monotonic() - t0

    # Set-up is the session start plus the checked cold pass, up to the
    # first timed span; only the token generation between them is left out.
    with Segment() as start_seg:
        spark, sampler = session.start(work, trace)
    r = W.Run(spark, trace, args.seed, work, sampler.jvm_pid)
    # A traced run, like the untraced probe it is compared with, times one
    # pass: its figures are per layer, not medians.
    passes = 1 if trace or args.probe else max(1, args.seconds // W.PASS_S)
    extras = {}
    try:
        if args.workload == "batch_rollup":
            t0 = time.monotonic()
            inp = W.batch_inputs(spark, args.seed, work)
            inputs_s += time.monotonic() - t0
            if args.probe:
                for pass_ in ("cold", "timed/1"):
                    out = W._pipeline(r, inp, pass_)[0]
                    out["rollup_1m"].unpersist()
                    out["rollup_1h"].unpersist()
                return {"phase1_s": r.wall("timed/1/pipeline")}
            with Segment() as cold:
                W.batch_pass(r, inp, "cold")
            r.timed(passes, lambda p: W.batch_pass(r, inp, p))
            if trace:
                extras = W.batch_traced_extras(r, inp)
            r.details["input_rows"] = inp["rows"]
            r.details["token_path"] = inp["path"]
            r.details["input_bytes"] = inp["input_bytes"]
        else:
            with Segment() as cold:
                found = W.query_check_pass(r, sf, want, names)
            r.timed(passes, lambda p: W.query_pass(r, sf, found, names, p))
            if args.probe:
                return {"phase1_s": r.wall("timed/1")}
    finally:
        app_id = spark.sparkContext.applicationId
        t0 = time.monotonic()
        peak_mb = session.stop(spark, sampler)
        r.details["stop_s"] = round(time.monotonic() - t0, 3)

    r.details["inputs_s"] = round(inputs_s, 3)
    setup = {"session_s": start_seg.wall_s, "cold_pass_s": cold.wall_s,
             "setup_s": start_seg.wall_s + cold.wall_s,
             "steal_pct": [round(start_seg.steal_pct, 3),
                           round(cold.steal_pct, 3)]}
    rec = report.record(args, r, setup, sampler, peak_mb, load_start)
    if trace:
        from perfbench.eventlog import EventLog

        log = EventLog.read(os.path.join(work, "eventlog", app_id))
        pl = report.per_layer(args.workload, r, log, extras, ref_s)
        pl["run.peak_rss_mb"] = peak_mb
        unrec = pl.pop("_unreconciled")
        r.op("trace_reconcile", lambda: [
            f"{unrec} spans ran more task time than wall x cores"] if unrec
            else [])
        rec.update(per_layer=pl, attempted=r.attempted, failed=r.failed,
                   problems=r.problems)
    return {"record": rec, "run": r}


def main(argv=None) -> int:
    t_start = time.monotonic()
    args = _args(argv)
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        _prepare_env(work)
        import sbse  # noqa: F401 - a checkout without the engine fails here

        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if args.probe:
        print(json.dumps(out))
        return 0
    from perfbench import report

    out["record"]["run_s"] = round(time.monotonic() - t_start, 3)
    print(json.dumps(out["record"], sort_keys=True))
    print(json.dumps(report.result(args, out["record"], out["run"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
