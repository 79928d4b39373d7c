"""ankaflow_spark benchmark on local[4].

    python3 perfbench/run.py --workload headline-sf0.01 --seed 1 --seconds 12 --trace 0

Workloads, each a closed loop with one client: items run one after another
in one fresh process. Every item first runs once on its own seeded tables
(the warm-up, part of set-up), then once more, measured, on seeded sf0.01
tables, so every measured pass is warm:

* ``headline-sf0.01``: pinned ``collect_all()`` builders, each executed
  through the noop sink; warm-up on sf0.001, two measured passes, each on
  its own copy of the tables.
* ``flows-sf0.01``: pinned YAML flows through ``Flow.run``, the final table
  collected; warm-up on sf0.01, one measured pass.

The item lists are fixed, so ``--seconds`` does not change the work; it is
recorded with the run. ``--trace 0`` prints the end-to-end metrics.
``--trace 1`` traces one measured pass (event log, job descriptions, a
streaming listener, spans around the calls into each package module) that
sits between two passes with spans and listener off on fresh copies of the
tables (the base of ``trace.overhead_ratio``; Spark's event log stays on in
all three), adds a pass over fresh sf0.001 tables for the fixed floor, and
prints the per-layer metrics.

Every run works in a private scratch dir under ``perfbench/_scratch``
(``TMPDIR``, ``SPARK_LOCAL_DIRS``, ``java.io.tmpdir``, working directory),
deletes it afterwards, and fails if the checkout changed outside it.
Outputs are checked after each pass, outside the timed region. The last
stdout line is one JSON object: correct, attempted, failed, metrics. A
per-item record goes to ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import items  # noqa: E402

CORES = 4
WORKLOADS = {"headline-sf0.01": "headline", "flows-sf0.01": "flows"}
RUN_DEADLINE_S = 170
# measured passes per untraced run, each on its own copy of the tables; an
# item's wall is the mean over passes. Headline items are sub-second, so one
# pass leaves their median at the mercy of a single item's jitter.
PASSES = {"headline": 2, "flows": 1}
# scale of the warm-up pass. A flows pass over sf0.01 right after an sf0.001
# warm-up still runs 10-40% slower than the next one, and by a different
# share each run; warming the flows on sf0.01 itself leaves that to set-up.
WARMUP_SF = {"headline": "sf0.001", "flows": "sf0.01"}


def tree_state(root: str) -> dict:
    """(size, mtime) of every file in the checkout outside the benchmark's
    own scratch and results dirs."""
    skip = {os.path.join(HERE, "_scratch"), os.path.join(HERE, "results"),
            os.path.join(root, ".git")}
    state = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if os.path.join(d, x) not in skip]
        for f in files:
            p = os.path.join(d, f)
            st = os.lstat(p)
            state[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return state


def host_context(scratch: str, seed: int) -> dict:
    """A small version of tools/host_probe.py plus versions, recorded beside
    every run and never gated."""
    d = os.path.join(scratch, "probe")
    os.makedirs(d)
    buf = os.urandom(1 << 20)
    t0 = time.perf_counter()
    with open(os.path.join(d, "seq.bin"), "wb") as fh:
        for _ in range(32):
            fh.write(buf)
        fh.flush()
        os.fsync(fh.fileno())
    seq = 32 / (time.perf_counter() - t0)
    t0 = time.perf_counter()
    for i in range(20):
        with open(os.path.join(d, f"fs{i}"), "wb") as fh:
            fh.write(b"x" * 1024)
            fh.flush()
            os.fsync(fh.fileno())
    fsync_ms = (time.perf_counter() - t0) * 1000 / 20
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(64):
        h.update(buf)
    cpu = 64 / (time.perf_counter() - t0)
    shutil.rmtree(d)

    import duckdb
    import pyspark

    src = hashlib.sha256()
    pkg = os.path.join(ROOT, "ankaflow_spark")
    for d, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith((".py", ".yaml")):
                src.update(os.path.relpath(os.path.join(d, f), pkg).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    src.update(fh.read())
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True).stdout.strip() or None
    return {
        "fsync_ms": round(fsync_ms, 3),
        "seq_write_mb_s": round(seq, 1),
        "cpu_sha256_mb_s": round(cpu, 1),
        "nproc": os.cpu_count(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "git_sha": sha,
        "source_sha256": src.hexdigest()[:16],
        "seed": seed,
    }


def make_inputs(workload: str, scratch: str, seed: int, trace: bool) -> dict:
    """Seeded tables for the run: ``data`` (one copy per measured pass),
    ``warmup`` and, traced, ``plain`` (two more copies of ``data``) and
    ``floor`` (sf0.001, a second pass at the headline's warm-up scale), each
    in its own dir so no pass finds another's data state."""
    data = os.path.join(scratch, "data")

    def tables(name: str, sf: str) -> str:
        return inputs.write_base(sf, os.path.join(data, name), seed)

    cfg = {"data": [tables(f"base{k}", "sf0.01") for k in range(1 if trace else PASSES[workload])],
           "warmup": tables("warmup", WARMUP_SF[workload])}
    if trace:
        cfg["plain"] = [tables(f"plain{k}", "sf0.01") for k in range(2)]
        if workload != "flows":
            cfg["floor"] = tables("floor", "sf0.001")
    if workload == "flows":
        cfg.update(items=list(items.FLOWS), flows_dir=os.path.join(HERE, "flows"),
                   digests=items.FLOW_DIGESTS)
    else:
        cfg["items"] = list(items.HEADLINE)
    return cfg


def stop_group(proc: subprocess.Popen) -> None:
    """Stop every process of the worker's session (the JVM, Python UDF
    workers) and wait until none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.time() + 5
        try:
            os.killpg(proc.pid, sig)
            while time.time() < deadline:
                os.killpg(proc.pid, 0)
                time.sleep(0.05)
        except ProcessLookupError:
            return


def run_worker(cfg: dict, scratch: str, trace: bool, deadline: float) -> dict:
    wdir = os.path.join(scratch, "worker")
    tmp = os.path.join(wdir, "tmp")
    for d in ("work", "tmp", "eventlog", "out"):
        os.makedirs(os.path.join(wdir, d))
    cfg = dict(cfg, trace=trace,
               eventlog=os.path.join(wdir, "eventlog"), out=os.path.join(wdir, "out"),
               result=os.path.join(wdir, "result.json"))
    with open(os.path.join(wdir, "config.json"), "w") as fh:
        json.dump(cfg, fh)
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "SPARK_GRAFT_CPUS": str(CORES),
    })
    # the program's own defaults: driver heap, shuffle partitions, master
    for k in ("SPARK_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_DRIVER_MEM",
              "PYSPARK_SUBMIT_ARGS"):
        env.pop(k, None)
    t_spawn = time.time()
    with open(os.path.join(wdir, "stderr.log"), "w") as err:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), os.path.join(wdir, "config.json")],
            cwd=os.path.join(wdir, "work"), env=env, start_new_session=True,
            stdout=subprocess.DEVNULL, stderr=err,
        )
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc)
            proc.wait()
    if code != 0:
        with open(os.path.join(wdir, "stderr.log")) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"worker exited with {code}:\n{tail}")
    with open(cfg["result"]) as fh:
        res = json.load(fh)
    res["t_spawn"] = t_spawn
    if trace:
        from tracing import read_event_log

        res["event_log"] = read_event_log(cfg["eventlog"])
    return res


def pass_wall(records: list) -> float:
    return records[-1]["end"] - records[0]["start"]


def end_to_end(res: dict, recs: list) -> dict:
    walls = sorted(r["wall"] for r in recs)
    return {
        "setup_s": (recs[0]["start"] - res["t_spawn"], "s"),
        "wall_s": (statistics.mean(pass_wall(p) for p in res["passes"]), "s"),
        "item_p50_s": (statistics.median(walls), "s"),
        "item_p90_s": (statistics.quantiles(walls, n=10, method="inclusive")[8], "s"),
        "retained_mb": (res["retained_mb"], "MB"),
    }


def per_layer(res: dict, recs: list) -> tuple:
    from tracing import spark_layers, stream_layers

    per_item = spark_layers(res["event_log"], recs)
    m = {}
    for fam in items.FAMILIES:
        sel = [i for i, r in enumerate(recs) if r["family"] == fam]
        m[f"operators.{fam}.build_s"] = (sum(recs[i]["built"] - recs[i]["start"] for i in sel), "s")
        m[f"operators.{fam}.action_s"] = (sum(recs[i]["end"] - recs[i]["built"] for i in sel), "s")
        m[f"operators.{fam}.jobs"] = (sum(per_item[i]["jobs"] for i in sel), "count")
        m[f"operators.{fam}.floor_s"] = (
            sum(r["end"] - r["start"] for r in res.get("floor", []) if r["family"] == fam), "s")
    stage_s = {}
    for r in recs:
        for _, kind, sec in r.get("stages", []):
            stage_s[kind] = stage_s.get(kind, 0.0) + sec
    for kind in ("tap", "transform", "operator", "sink", "internal"):
        m[f"plans.{kind}_s"] = (stage_s.get(kind, 0.0), "s")
    calls, secs = res["spans"]["calls"], res["spans"]["seconds"]
    m["plans.render_s"] = (secs.get("plans.render", 0.0), "s")
    m["session.start_s"] = (res["session_start_s"], "s")
    m["session.register_calls"] = (calls.get("session.register", 0), "count")
    m["session.materialize_s"] = (secs.get("session.materialize", 0.0), "s")
    m["session.sql_calls"] = (calls.get("session.sql", 0), "count")
    m["session.sql_s"] = (secs.get("session.sql", 0.0), "s")
    m["sqlfront.rewrite_calls"] = (calls.get("sqlfront.rewrite", 0), "count")
    m["sqlfront.rewrite_s"] = (secs.get("sqlfront.rewrite", 0.0), "s")
    m["sources.tap_s"] = (secs.get("sources.tap", 0.0), "s")
    m["sources.sink_s"] = (secs.get("sources.sink", 0.0), "s")
    m["sources.files_written"] = (sum(r.get("files_written", 0) for r in recs), "count")
    m["sources.bytes_written_mb"] = (sum(r.get("bytes_written", 0) for r in recs) / 2**20, "MB")
    for k, v in stream_layers(res["stream_events"], recs[0]["start"], recs[-1]["end"]).items():
        m[f"streaming.{k}"] = (v, "ms" if k.endswith("_ms") else "count")
    tot = {k: sum(p[k] for p in per_item) for k in per_item[0]}
    wall = pass_wall(recs)
    for k in ("jobs", "stages", "stages_skipped", "tasks", "tasks_failed"):
        m[f"spark.{k}"] = (tot[k], "count")
    m["spark.task_fail_ratio"] = (tot["tasks_failed"] / max(1, tot["tasks"]), "ratio")
    for k in ("job_wall_s", "executor_run_s", "executor_cpu_s", "gc_s", "input_mb",
              "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "output_mb",
              "python_in_mb", "python_out_mb", "python_run_s"):
        m[f"spark.{k}"] = (tot[k], "MB" if k.endswith("_mb") else "s")
    m["spark.core_busy_ratio"] = (tot["executor_run_s"] / (wall * CORES), "ratio")
    m["driver.residual_s"] = (tot["residual_s"], "s")
    plain = statistics.mean(pass_wall(p) for p in res["plain"])
    m["trace.overhead_ratio"] = (wall / plain - 1, "ratio")
    # job_wall_s + residual_s equals the item wall by construction; it is a
    # true split only if no job of the item was still running when it ended
    unreconciled = [r["name"] for r, p in zip(recs, per_item) if p["overhang_s"] > 0.05]
    for r, p in zip(recs, per_item):
        r["spark"] = p
    return m, unreconciled


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ankaflow_spark", "__init__.py")):
        print(f"no ankaflow_spark package beside {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    t_run = time.time()
    trace = bool(args.trace)
    scratch = os.path.join(HERE, "_scratch", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    before = tree_state(ROOT)
    try:
        os.makedirs(scratch)
        host = host_context(scratch, args.seed)
        kind = WORKLOADS[args.workload]
        cfg = make_inputs(kind, scratch, args.seed, trace)
        cfg["workload"] = kind
        res = run_worker(cfg, scratch, trace, t_run + RUN_DEADLINE_S)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        parent = os.path.dirname(scratch)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    after = tree_state(ROOT)
    changed = sorted(p for p in set(before) | set(after) if before.get(p) != after.get(p))

    recs = res["passes"][0]
    for i, r in enumerate(recs):
        reps = [p[i] for p in res["passes"]]
        r["wall"] = statistics.mean(x["end"] - x["start"] for x in reps)
        bad = [x for x in reps if not x["ok"]]
        if bad:
            r.update(ok=False, error=bad[0].get("error"))
    failed = [r for r in recs if not r["ok"]]
    if trace:
        metrics, unreconciled = per_layer(res, recs)
    else:
        metrics, unreconciled = end_to_end(res, recs), []
    correct = not failed and not changed and not unreconciled

    for r in recs:
        status = "ok" if r["ok"] else "FAIL " + r.get("error", "")
        print(f"item {r['name']:32s} {r['wall']:8.3f} s  {status}")
    for p in changed[:20]:
        print(f"checkout changed outside perfbench/_scratch: {p}")
    for name in unreconciled:
        print(f"trace does not reconcile with the item wall: {name}")
    print("host " + json.dumps(host, sort_keys=True))
    print(f"fail_ratio: {len(failed) / len(recs):.4f} ratio ({len(failed)}/{len(recs)})")
    for k, (v, unit) in metrics.items():
        print(f"{k}: {v:.4f} {unit}")
    print(f"peak_rss_mb: {res['rss_kb'] / 1024:.1f} MB (JVM + Python driver, not gated)")
    print(f"run_total_s: {time.time() - t_run:.1f} s (not gated)")

    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    detail = os.path.join(HERE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(detail, "w") as fh:
        json.dump({"host": host, "seconds": args.seconds, "check_s": res["check_s"],
                   "passes": res["passes"], "plain": res.get("plain"), "floor": res.get("floor"),
                   "changed": changed,
                   "metrics": {k: v for k, (v, _) in metrics.items()}}, fh, indent=1, default=str)
    print(json.dumps({
        "correct": correct,
        "attempted": len(recs),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
