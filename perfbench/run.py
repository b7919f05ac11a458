#!/usr/bin/env python3
"""The graft benchmark: one closed-loop client, one JVM, local[nproc].

    python3 perfbench/run.py --workload <name|all> --seed <n> \
        [--seconds 10] [--trace 0|1]

Builds the program from source if needed (``perfbench/build.py``), runs the
workload's harness (``perfbench/src``) in one JVM, checks the outputs, and
prints each metric by name with its unit; the last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of ``BENCHMARK.json``; with
``--trace 1`` a separately traced phase gives the per-layer ones, a self-time
table, the tracing overhead and (``stream_ingest``, ``batch_tpch``) a
single-thread baseline. ``--workload all`` runs every workload in one JVM.
The exit code is nonzero on any failed operation or correctness mismatch.
See ``perfbench/README.md``.
"""
import argparse
import contextlib
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import layers  # noqa: E402
from stats import median, tail  # noqa: E402

WORKLOADS = ("stream_ingest", "stream_neardup", "batch_tpch", "batch_corpus")
DATA = os.path.join(HERE, "data", "sf0.1")
OUT = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 170


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def nproc():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, args, work, log_path, timeout):
    """Run the harness; return its exit code. The JVM runs in its own
    process group, which is killed and reaped on timeout or interrupt."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(build.java_cmd(classpath, tmp, args),
                                stdout=log, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def end_to_end(raw, launch_epoch):
    """End-to-end metrics of one untraced workload run."""
    setup = (raw["main_epoch_ms"] / 1e3 - launch_epoch + raw["session_s"]
             + median(raw["prep_s"]) + raw["warm_s"])
    return {
        "setup_s": setup,
        "op_p50_s": median([o["wall_s"] for o in raw["ops"]]),
        "retained_heap_mb": raw["retained_heap_mb"],
    }


def details(raw):
    """Workload-specific figures printed beside the end-to-end metrics
    (named as the per-layer metrics they equal)."""
    out = {}
    wl = raw["workload"]
    if wl.startswith("stream_"):
        out.update(layers.stream_figures(wl, raw["ops"],
                                  set(raw.get("compacting_ops", []))))
        tl = tail([o["wall_s"] for o in raw["ops"]])
        out["stream.triggers"] = len(raw["ops"])
        if tl:
            out["stream.trigger_tail_s"] = tl[0]
            out["stream.trigger_tail_pct"] = tl[1]
    if wl == "stream_ingest":
        out["sink.bytes_per_row"] = raw["sink_bytes"] / (
            raw["sink_triggers"] * raw["input_rows_per_op"])
    if wl == "stream_neardup":
        out["store.view_read_s"] = median(raw["read_view_s"])
        out["store.bytes_per_row"] = (raw["store"]["bytes"]
                                      / max(1, raw["store"]["docs"]))
    return out


def oracle_gate():
    """The repository's DuckDB oracle gate (``tools/compare_oracle.py``) in
    its strict mode: exact float equality."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import compare_oracle
    except ImportError as e:
        raise build.BuildError(f"oracle gate not found: {e}")
    finally:
        sys.path.pop(0)
    compare_oracle.STRICT = True
    return compare_oracle


def batch_checks(raw):
    """Run the oracle gate over the batch queries' check outputs; return the
    mismatches as (query, reason). A query passes only on the gate's PASS
    line; a missing result or oracle is a mismatch too."""
    out = io.StringIO()
    missing = "no verdict from the oracle gate"
    try:
        with contextlib.redirect_stdout(out):
            oracle_gate().main(DATA, raw["check_dir"])
    except Exception as e:  # a result DuckDB cannot read, for example
        missing = f"oracle gate stopped: {type(e).__name__}: {e}"
    verdict = {}
    for line in out.getvalue().splitlines():
        word, _, rest = line.partition(" ")
        q = rest.split(":")[0].split(" (")[0]
        if word in ("PASS", "FAIL", "SKIP"):
            verdict[q] = None if word == "PASS" else f"{word} {rest}"
    errors = raw.get("check_errors", {})
    return [(q, errors.get(q) or verdict.get(q, missing))
            for q in raw["queries"] if errors.get(q) or q not in verdict
            or verdict[q]]


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def report(raw, launch_epoch, trace, e2e_units, layer_units):
    """Print one workload's figures; return (metrics, attempted, failed)."""
    wl = raw["workload"]
    attempted, failed = raw["attempted"], raw["failed"]
    print(f"== {wl} (seed {raw['seed']}, local[{raw['cores']}])")
    for e in raw["errors"]:
        print(f"  FAILED {e}")
    if wl.startswith("batch_") and "check_dir" in raw:
        t0 = time.time()
        bad = batch_checks(raw)
        raw["check_s"] = time.time() - t0
        attempted += len(raw["queries"])
        failed += len(bad)
        for q, reason in bad:
            print(f"  MISMATCH {q}: {reason}")
        print(f"  oracle check: {len(raw['queries']) - len(bad)}/"
              f"{len(raw['queries'])} queries equal their DuckDB oracle")
    if wl.startswith("batch_") and raw.get("ops"):
        per_q = {q: median([o["queries"][q] for o in raw["ops"]
                            if q in o["queries"]]) for q in raw["queries"]}
        print("  query medians: " + ", ".join(
            f"{q} {t:.3f}s" for q, t in per_q.items() if t is not None))
    if "reconcile" in raw:
        print(f"  sink reconciliation: {raw['reconcile']}")
    if "store" in raw:
        print(f"  store: {raw['store']}")
    if raw.get("fatal"):
        return None, attempted, failed
    e2e = end_to_end(raw, launch_epoch)
    print(f"  setup: jvm {raw['main_epoch_ms'] / 1e3 - launch_epoch:.3f} s, "
          f"session {raw['session_s']:.3f} s, input/table load "
          f"{'/'.join(f'{x:.3f}' for x in raw['prep_s'])} s, warm-up "
          f"{raw['warm_s']:.3f} s; {len(raw['ops'])} timed ops: "
          + " ".join(f"{o['wall_s']:.3f}" for o in raw["ops"])
          + f" s; checks {raw.get('check_s', 0):.3f} s")
    failed_frac = failed / max(1, attempted)
    print(f"  client.failed_frac = {failed_frac:.6g} "
          f"{layer_units['client.failed_frac']} "
          f"({failed} of {attempted} operations)")
    if not trace:
        for k, v in e2e.items():
            print(f"  {k} = {fmt(v)} {e2e_units[k]}")
        for k, v in details(raw).items():
            print(f"  {k} = {fmt(v)} {layer_units[k]}")
        return {k: {"value": v, "unit": e2e_units[k]}
                for k, v in e2e.items()}, attempted, failed
    m, table = layers.layer_metrics(raw)
    m["client.failed_frac"] = failed_frac
    ref_p50 = median([o["wall_s"] for o in raw["traced"]["ref_ops"]])
    notes = layers.counters_note(m)
    print(f"  self time by layer over the traced phase "
          f"({raw['traced']['wall_s']:.3f} s wall, {len(raw['traced']['ops'])}"
          f" ops):")
    for name, self_s, share, n in table:
        if self_s is None:
            key = next(k for k in notes if name.startswith(k))
            print(f"    {name:<40} {'counters':>10}  {notes[key]}")
        else:
            print(f"    {name:<40} {self_s:>9.3f}s {100 * share:5.1f}%  "
                  f"{n} spans")
    print(f"  tracing overhead: op_p50_s {ref_p50:.6g} s untraced (the "
          f"phase after the traced one), "
          f"{ref_p50 * (1 + m['trace.overhead_frac']):.6g} s traced "
          f"({100 * m['trace.overhead_frac']:+.1f}%)")
    if raw.get("baseline"):
        print(f"  single-thread baseline: op_p50_s "
              f"{m['baseline.local1_op_p50_s']:.6g} s at local[1] vs "
              f"{ref_p50:.6g} s at local[{raw['cores']}] (untraced, same "
              f"warm JVM)")
    for k, v in m.items():
        if k != "client.failed_frac":
            print(f"  {k} = {fmt(v)} {layer_units[k]}")
    print(f"  spans: {os.path.relpath(raw['traced']['spans_file'], ROOT)}")
    return {k: {"value": v, "unit": layer_units[k]}
            for k, v in m.items()}, attempted, failed


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    started = time.time()
    try:
        e2e_units, layer_units = declared()
        if not os.path.isdir(DATA):
            raise build.BuildError(f"benchmark data not found: {DATA}")
        oracle_gate()
        classpath = build.ensure()
    except (build.BuildError, OSError) as e:
        print(f"benchmark cannot run: {e}", file=sys.stderr)
        return 2
    wls = WORKLOADS if a.workload == "all" else (a.workload,)
    tag = f"{a.workload}-seed{a.seed}{'-trace' if a.trace else ''}"
    work = os.path.join(OUT, "work", f"{tag}-{os.getpid()}")
    log_path = os.path.join(OUT, "logs", f"{tag}.log")
    raw_path = os.path.join(work, "raw.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    results = {}
    attempted = failed = 0
    try:
        launch = time.time()
        timeout = (JVM_TIMEOUT_S - (launch - started)) * len(wls)
        try:
            rc = run_jvm(classpath, [
                "--workload", ",".join(wls), "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cores", str(nproc()), "--data", DATA, "--work", work,
                "--trace-dir", os.path.join(OUT, "trace"),
                "--out", raw_path], work, log_path, timeout)
        except subprocess.TimeoutExpired:
            print(f"harness timed out; log: {log_path}", file=sys.stderr)
            return 1
        if rc != 0 or not os.path.exists(raw_path):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-3000:])
            print(f"harness exited {rc}; log: {log_path}", file=sys.stderr)
            return 1
        with open(raw_path) as f:
            raws = json.load(f)
        for wl in wls:
            metrics, att, fail = report(raws[wl], launch, a.trace, e2e_units,
                                        layer_units)
            attempted += att
            failed += fail
            if metrics is None:
                print(f"{wl}: run aborted; log: {log_path}", file=sys.stderr)
                return 1
            results[wl] = metrics
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if a.workload == "all":
        out["workloads"] = results
    else:
        out["metrics"] = results[a.workload]
    print(json.dumps(out))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
