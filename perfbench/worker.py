"""One workload run in a fresh process: set-up, items, output checks.

Run by ``run.py`` as ``python3 worker.py <config.json>`` with a private
working directory and ``TMPDIR``; writes its record to ``config["result"]``.
Items run one after another (a closed loop, one client) through the
package's public entry points:

* headline: ``collect_all()`` builders, action = noop sink;
* flows: ``Flow(Stages.load(yaml), engine=SparkEngine(...)).run()``,
  action = collect the final table.

Outputs are checked after the measured pass, outside every item's timed
region.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import math
import os
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

sys.dont_write_bytecode = True


def _vm_kb(pid, field: str = "VmHWM") -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def retained_mb(spark) -> float:
    """Driver memory the program still holds after a pass: the JVM heap in
    use after full collections (cached blocks, checkpoints, catalog) plus
    the Python driver's resident set. Spark's context cleaner frees, in the
    background, the broadcasts and shuffles whose handles a collection found
    dead, so the cleaner gets time before the heap is read, and collections
    repeat until the heap stops shrinking."""
    import gc

    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()

    def collect() -> int:
        gc.collect()
        jvm.java.lang.System.gc()
        return bean.getHeapMemoryUsage().getUsed()

    collect()
    time.sleep(2.0)
    used = collect()
    for _ in range(10):
        time.sleep(0.5)
        now = collect()
        if now > used * 0.99:
            break
        used = now
    return min(used, now) / 2**20 + _vm_kb("self", "VmRSS") / 1024


# -- output checks --------------------------------------------------------
def canon_cell(v) -> str:
    """tools/oracle_check.py's cell-exact canonical form."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon_cell(r[i]) for i in order) for r in rows)


def oracle_mismatch(df, con, sql: str):
    """None when the Spark result equals its DuckDB oracle cell for cell."""
    s_cols = [f.name for f in df.schema.fields]
    s_rows = [tuple(r) for r in df.collect()]
    rel = con.sql(sql)
    d_cols = list(rel.columns)
    d_rows = rel.fetchall()
    if sorted(s_cols) != sorted(d_cols):
        return f"columns differ: spark={sorted(s_cols)} oracle={sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"row count differs: spark={len(s_rows)} oracle={len(d_rows)}"
    for a, b in zip(canon_rows(s_cols, s_rows), canon_rows(d_cols, d_rows)):
        if a != b:
            return f"value mismatch: spark={a} oracle={b}"
    return None


def duck(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'")
    return con


def written(root: str) -> tuple:
    """Rows per written dataset (a top-level parquet file or dir of parts)
    under ``root``, and the count and bytes of every data file there."""
    import pyarrow.parquet as pq

    rows, n, size = {}, 0, 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith(".") or f == "_SUCCESS":
                continue
            path = os.path.join(d, f)
            n += 1
            size += os.path.getsize(path)
            if f.endswith(".parquet"):
                rel = os.path.relpath(d, root)
                top = f if rel == "." else rel.split(os.sep)[0]
                rows[top] = rows.get(top, 0) + pq.ParquetFile(path).metadata.num_rows
    return rows, n, size


# -- the passes -----------------------------------------------------------
def run_operators(spark, names, data_dir: str, families: dict, tag: str) -> list:
    from ankaflow_spark.operators import clear_shared_caches, collect_all
    from ankaflow_spark.operators.tables import load_tables

    queries, _ = collect_all()
    load_tables(spark, data_dir)
    clear_shared_caches(spark)
    sc = spark.sparkContext
    records = []
    for name in names:
        rec = {"name": name, "family": families.get(name, "unknown"), "ok": True}
        sc.setJobDescription(f"perfbench {tag} {name}")
        rec["start"] = time.time()
        try:
            df = queries[name](spark, data_dir)
            rec["built"] = time.time()
            df.write.format("noop").mode("overwrite").save()
            rec["df"] = df
        except Exception as e:  # an item that raises is a failed item
            rec.update(ok=False, error=f"{type(e).__name__}: {e}"[:500])
            rec.setdefault("built", time.time())
        rec["end"] = time.time()
        records.append(rec)
    sc.setJobDescription(None)
    return records


def check_operators(records, data_dir: str) -> None:
    from ankaflow_spark.operators import collect_all

    oracles = collect_all()[1]
    con = duck(data_dir)

    def check(rec) -> None:
        df = rec.pop("df", None)
        if not rec["ok"]:
            return
        if rec["name"] not in oracles:
            rec.update(ok=False, error="no DuckDB oracle to check against")
            return
        try:
            err = oracle_mismatch(df, con.cursor(), oracles[rec["name"]])
        except Exception as e:
            err = f"check raised {type(e).__name__}: {e}"
        if err:
            rec.update(ok=False, error=err[:500])

    # the items are done, so their outputs are collected side by side:
    # the checks are untimed and mostly per-job driver overhead
    with ThreadPoolExecutor(int(os.environ.get("SPARK_GRAFT_CPUS", "4"))) as pool:
        list(pool.map(check, records))


def run_flows(spark, cfg: dict, data_dir: str, tag: str) -> list:
    """Every flow once, on a fresh engine over a catalog cleared of the
    previous pass's cached taps and layout tables."""
    from ankaflow_spark.models.core import Stages
    from ankaflow_spark.plans.flow import Flow
    from ankaflow_spark.session import SparkEngine

    spark.catalog.clearCache()
    for t in spark.catalog.listTables():
        if not t.isTemporary:
            spark.sql(f"DROP TABLE {t.name}")
    engine = SparkEngine(spark)
    warehouse = os.path.join(os.getcwd(), "spark-warehouse")
    records = []
    for name in cfg["items"]:
        out = os.path.join(cfg["out"], tag, name)
        os.makedirs(out)
        rec = {"name": name, "family": "flow", "ok": True}
        tables_before = set(os.listdir(warehouse)) if os.path.isdir(warehouse) else set()
        spark.sparkContext.setJobDescription(f"perfbench {tag} {name}")
        rec["start"] = time.time()
        try:
            flow = Flow(
                Stages.load(os.path.join(cfg["flows_dir"], f"{name}.yaml")),
                engine=engine,
                variables={"data_dir": data_dir, "out_dir": out, "out": out},
            )
            df = flow.run()
            # the flow's consumer reads its final table: a report row or
            # a few hundred curated rows
            rec["final"] = None if df is None else (df.columns, df.collect())
            rec["stages"] = flow.stage_timings
        except Exception as e:
            rec.update(ok=False, error=f"{type(e).__name__}: {e}"[:500])
        rec["end"] = rec["built"] = time.time()
        tables = sorted(set(os.listdir(warehouse)) - tables_before) if os.path.isdir(warehouse) else []
        rec["sinks"], n, size = written(out)
        for t in tables:
            rows, tn, tsize = written(os.path.join(warehouse, t))
            rec["sinks"][f"table:{t}"] = sum(rows.values())
            n, size = n + tn, size + tsize
        rec["files_written"], rec["bytes_written"] = n, size
        records.append(rec)
    spark.sparkContext.setJobDescription(None)
    return records


def flow_digest(final, sinks: dict) -> dict:
    """Row counts of a flow's final table and sinks, plus the final table's
    cells: as a column -> cell map when it is one report row, else as a hash
    of its sorted canonical rows. Doubles keep 10 significant digits, so a
    sum's summation order does not show."""
    digest = {"final_rows": None, "sinks": sinks}
    if final is None:
        return digest
    cols, collected = final
    rows = [tuple(f"{v:.10g}" if isinstance(v, float) else canon_cell(v) for v in r)
            for r in collected]
    digest["final_rows"] = len(rows)
    if len(rows) == 1:
        digest["row"] = dict(zip(cols, rows[0]))
    else:
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        canon = sorted(tuple(r[i] for i in order) for r in rows)
        digest["rows_sha256"] = hashlib.sha256(repr(canon).encode()).hexdigest()[:16]
    return digest


def check_flows(records, digests: dict) -> None:
    for rec in records:
        final = rec.pop("final", None)
        if not rec["ok"]:
            continue
        rec["digest"] = flow_digest(final, rec["sinks"])
        want = digests.get(rec["name"])
        if want is None:
            rec.update(ok=False, error="no recorded digest")
        elif rec["digest"] != want:
            rec.update(ok=False, error=f"digest {rec['digest']} != recorded {want}")


def families() -> dict:
    from ankaflow_spark.operators import dedup, relational, similarity, streamq, textops, timeseries

    return {q: mod.__name__.rsplit(".", 1)[1]
            for mod in (relational, timeseries, dedup, similarity, textops, streamq)
            for q in mod.QUERIES}


def _times(records) -> list:
    return [{k: r[k] for k in ("name", "family", "start", "end", "ok")} for r in records]


def main() -> None:
    with open(sys.argv[1]) as fh:
        cfg = json.load(fh)
    trace = cfg["trace"]
    result = {}
    if trace:
        from tracing import Spans, instrument, stream_listener

        spans, events = Spans(), []
        instrument(spans)
    from ankaflow_spark.session import SparkEngine, get_spark

    t0 = time.time()
    extra = {}
    if trace:
        extra = {"spark.eventLog.enabled": "true",
                  "spark.eventLog.compress": "false",
                  "spark.eventLog.rolling.enabled": "false",
                  "spark.eventLog.dir": "file://" + cfg["eventlog"]}
    spark = get_spark(f"perfbench-{cfg['workload']}", extra_conf=extra)
    SparkEngine(spark)
    result["session_start_s"] = time.time() - t0
    if trace:
        listener = stream_listener(events)
    if cfg["workload"] == "flows":
        def run_pass(data_dir, tag):
            return run_flows(spark, cfg, data_dir, tag)
    else:
        fams = families()

        def run_pass(data_dir, tag):
            return run_operators(spark, cfg["items"], data_dir, fams, tag)
    try:
        # warm-up: every item once on the warm-up tables, so the measured
        # pass runs compiled code (JIT, whole-stage codegen) and times data
        # work; its own dir keeps the measured pass's data state cold
        run_pass(cfg["warmup"], "warmup")
        if trace:
            # the traced pass sits between two plain passes (spans and
            # listener off, fresh tables): the base of trace.overhead_ratio
            result["plain"] = [_times(run_pass(cfg["plain"][0], "plain0"))]
            spans.enabled = True
            spark.streams.addListener(listener)
        result["passes"], result["check_s"] = [], 0.0
        for k, data_dir in enumerate(cfg["data"]):
            records = run_pass(data_dir, f"item{k}")
            if k == 0:
                # after the first pass only: later passes follow the output
                # checks, whose collected rows and DuckDB stay resident
                result["rss_kb"] = _vm_kb("self") + _vm_kb(
                    spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
                result["retained_mb"] = retained_mb(spark)
                if trace:
                    spans.enabled = False
                    spark.streams.removeListener(listener)
                    result["spans"] = {"calls": dict(spans.calls), "seconds": dict(spans.seconds)}
            # checked before the next pass clears the shared caches its
            # outputs may still read
            t_check = time.time()
            if cfg["workload"] == "flows":
                check_flows(records, cfg["digests"])
            else:
                check_operators(records, data_dir)
            result["check_s"] += time.time() - t_check
            result["passes"].append(records)
        if trace:
            result["plain"].append(_times(run_pass(cfg["plain"][1], "plain1")))
            if "floor" in cfg:
                result["floor"] = _times(run_pass(cfg["floor"], "floor"))
            result["stream_events"] = events
    finally:
        spark.stop()
    with open(cfg["result"], "w") as fh:
        json.dump(result, fh, default=str)


if __name__ == "__main__":
    try:
        main()
    except Exception:
        traceback.print_exc()
        sys.exit(1)
