"""Pipeline orchestration tests (model: reference tests/test_pipeline.py —
handler dispatch, loop_control, variable plumbing; run against real
Spark instead of a stubbed engine)."""

import os

import pytest

from ankaflow_spark.models.core import Stages
from ankaflow_spark.plans.flow import Flow, FlowError


def run_flow(engine, yaml_text, variables=None, context=None):
    flow = Flow(
        Stages.loads(yaml_text),
        engine=engine,
        variables=variables if variables is not None else {},
        context=context,
    )
    return flow


def test_tap_transform_sink(engine, sf_dir, tmp_path):
    out = tmp_path / "out.parquet"
    flow = run_flow(
        engine,
        f"""
- kind: tap
  name: line_tap
  connection:
    kind: parquet
    locator: {sf_dir}/lineitem.parquet
- kind: transform
  name: summary
  query: |
    SELECT l_returnflag, count(*) AS c, sum(l_quantity) AS q
    FROM line_tap GROUP BY l_returnflag ORDER BY l_returnflag
- kind: sink
  name: write out
  connection:
    kind: parquet
    locator: {out}
""",
    )
    df = flow.run()
    assert df.count() == 3
    assert os.path.exists(out)
    back = engine.spark.read.parquet(str(out))
    assert back.count() == 3
    assert set(back.columns) == {"l_returnflag", "c", "q"}


def test_stage_name_with_spaces(engine, sf_dir):
    flow = run_flow(
        engine,
        f"""
- kind: tap
  name: Extract Data
  connection:
    kind: parquet
    locator: {sf_dir}/region.parquet
- kind: transform
  name: Count It
  query: SELECT count(*) AS n FROM "Extract Data"
""",
    )
    df = flow.run()
    assert df.collect()[0]["n"] == 5


def test_tap_query_filters_source(engine, sf_dir):
    flow = run_flow(
        engine,
        f"""
- kind: tap
  name: cheap
  connection:
    kind: parquet
    locator: {sf_dir}/orders.parquet
  query: SELECT * FROM "cheap" WHERE o_totalprice < 1000
""",
    )
    df = flow.run()
    assert df.filter("o_totalprice >= 1000").count() == 0


def test_versioned_dedup_tap(engine, sf_dir):
    flow = run_flow(
        engine,
        f"""
- kind: tap
  name: latest events
  connection:
    kind: parquet
    locator: {sf_dir}/events.parquet
    version: ts
    key: [user_id, event_type]
""",
    )
    df = flow.run()
    assert df.groupBy("user_id", "event_type").count().filter("count > 1").count() == 0


def test_templating_and_variables(engine, sf_dir):
    flow = run_flow(
        engine,
        f"""
- kind: tap
  name: orders
  connection:
    kind: parquet
    locator: {sf_dir}/orders.parquet
- kind: transform
  name: filtered
  query: SELECT * FROM orders WHERE o_totalprice > << threshold >>
""",
        variables={"threshold": 100000},
    )
    df = flow.run()
    assert df.filter("o_totalprice <= 100000").count() == 0


def test_variable_sink_and_tap(engine):
    flow = run_flow(
        engine,
        """
- kind: tap
  name: seed
  connection:
    kind: variable
    locator: rows_in
- kind: sink
  name: out
  connection:
    kind: variable
    locator: rows_out
  query: SELECT id, val * 2 AS dbl FROM seed
""",
        variables={"rows_in": [{"id": 1, "val": 10}, {"id": 2, "val": 20}]},
    )
    flow.run()
    out = sorted(flow.variables["rows_out"], key=lambda r: r["id"])
    assert out == [{"id": 1, "dbl": 20}, {"id": 2, "dbl": 40}]


def test_pipeline_loop_control(engine):
    flow = run_flow(
        engine,
        """
- kind: internal
  name: loop driver
  query: SELECT explode(sequence(1, 3)) AS i
- kind: pipeline
  name: per row
  stages:
  - kind: internal
    name: compute
    query: SELECT << loop_control.i >> * 10 AS x
  - kind: sink
    name: collect
    connection:
      kind: variable
      locator: out_<< loop_control.i >>
""",
    )
    flow.run()
    assert flow.variables["out_1"] == [{"x": 10}]
    assert flow.variables["out_3"] == [{"x": 30}]


def test_skip_if(engine):
    flow = run_flow(
        engine,
        """
- kind: internal
  name: a
  query: SELECT 1 AS x
- kind: internal
  name: skipped
  skip_if: "<< do_skip >>"
  query: SELECT raise_error('must not run') AS x
""",
        variables={"do_skip": True},
    )
    df = flow.run()
    assert df.collect()[0]["x"] == 1  # last successful stage is 'a'


def test_on_error_continue(engine):
    flow = run_flow(
        engine,
        """
- kind: internal
  name: good
  query: SELECT 41 AS x
- kind: internal
  name: bad
  on_error: continue
  query: SELECT broken syntax here
- kind: internal
  name: after
  query: SELECT x + 1 AS x FROM good
""",
    )
    df = flow.run()
    assert df.collect()[0]["x"] == 42


def test_on_error_fail(engine):
    flow = run_flow(
        engine,
        """
- kind: internal
  name: bad
  query: SELECT broken syntax here
""",
    )
    with pytest.raises(FlowError):
        flow.run()


def test_api_in_templates(engine):
    flow = run_flow(
        engine,
        """
- kind: internal
  name: use api
  query: SELECT '<< API.dt("1712361600").isoformat() >>' AS iso
""",
    )
    assert flow.run().collect()[0]["iso"] == "2024-04-06T00:00:00"


def test_api_sqltuple(engine, sf_dir):
    flow = run_flow(
        engine,
        f"""
- kind: tap
  name: nation
  connection:
    kind: parquet
    locator: {sf_dir}/nation.parquet
- kind: transform
  name: pick
  query: SELECT n_name FROM nation WHERE n_nationkey IN << API.sqltuple(keys) >>
""",
        variables={"keys": [1, 2, 3]},
    )
    assert flow.run().count() == 3


def test_conn_config_defaults(engine, sf_dir):
    from ankaflow_spark.models.configs import ConnectionConfiguration

    flow = Flow(
        Stages.loads("""
- kind: tap
  name: rel
  connection:
    kind: parquet
    locator: region.parquet
"""),
        engine=engine,
        conn_config=ConnectionConfiguration(bucket=sf_dir),
    )
    assert flow.run().count() == 5


def test_pull_df(engine, sf_dir):
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: nation
  connection:
    kind: parquet
    locator: {sf_dir}/nation.parquet
- kind: transform
  name: count
  query: SELECT count(*) AS n FROM nation
"""),
        engine=engine,
    )
    pdf = flow.pull_df()
    assert pdf["n"][0] == 25


def test_stage_unknown_key_warns(caplog):
    import logging

    with caplog.at_level(logging.WARNING, logger="ankaflow_spark.models"):
        Stages.loads("""
- kind: transform
  name: t
  query: SELECT 1
  skipif: true
""")
    assert any("skipif" in r.message or "skipif" in str(r.args) for r in caplog.records)
    # known reference extras stay silent
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="ankaflow_spark.models"):
        Stages.loads("""
- kind: transform
  name: t
  query: SELECT 1
  attribution: someone
""")
    assert not caplog.records


def test_recursive_cte_transform(engine, sf_dir):
    # WITH RECURSIVE (Spark 4) must pass the dialect rewriter intact,
    # including the CTE's self-reference in the recursive term
    flow = Flow(
        Stages.loads(f"""
- kind: tap
  name: part
  connection: {{kind: parquet, locator: {sf_dir}/part.parquet}}
- kind: transform
  name: rolled
  query: >
    WITH RECURSIVE anc(p_partkey, node) AS (
      SELECT p_partkey, p_partkey FROM part
      UNION ALL
      SELECT p_partkey, CAST(floor(node / 10.0) AS BIGINT) FROM anc WHERE node > 0
    )
    SELECT node, COUNT(*) AS n FROM anc GROUP BY node
"""),
        engine=engine,
    )
    rows = {r.node: r.n for r in flow.run().collect()}
    assert rows[0] == engine.spark.read.parquet(f"{sf_dir}/part.parquet").count()


# ---------------------------------------------------------------------------
# tap rule: file taps stay lazy views; everything else materializes
# ---------------------------------------------------------------------------
def _is_cached(engine, name):
    from ankaflow_spark.session import mangle_view_name

    return engine.spark.catalog.isCached(mangle_view_name(name))


def _count_jobs(spark, fn):
    """Spark jobs ``fn`` launches, counted under a fresh job group."""
    import uuid

    group = f"tap-rule-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_parquet_tap_stays_lazy_with_fewer_jobs(engine, sf_dir, monkeypatch):
    import ankaflow_spark.plans.flow as flow_mod

    yaml_text = f"""
- kind: tap
  name: lazy_orders
  connection: {{kind: parquet, locator: {sf_dir}/orders.parquet}}
- kind: transform
  name: by_status
  query: >
    SELECT o_orderstatus, count(*) AS n FROM lazy_orders
    GROUP BY o_orderstatus ORDER BY o_orderstatus
"""
    results = []

    def run():
        results.append(run_flow(engine, yaml_text).run().collect())

    lazy_jobs = _count_jobs(engine.spark, run)
    assert not _is_cached(engine, "lazy_orders")
    # every tap eager, the rule before lazy file taps
    monkeypatch.setattr(flow_mod, "replayable", lambda conn, df: False)
    try:
        eager_jobs = _count_jobs(engine.spark, run)
        assert _is_cached(engine, "lazy_orders")
    finally:
        engine.unregister("lazy_orders")
    assert results[0] == results[1]
    assert lazy_jobs < eager_jobs, (lazy_jobs, eager_jobs)


def test_sink_overwriting_a_lazy_tap_keeps_its_rows(engine, tmp_path):
    """The tap's consumers, one defined before the write, keep the rows
    read before the overwrite; the sink's own output is the new rows."""
    import pandas as pd

    path = tmp_path / "x.parquet"
    pd.DataFrame({"id": list(range(10))}).to_parquet(path)
    flow = run_flow(
        engine,
        f"""
- kind: tap
  name: snap_src
  connection: {{kind: parquet, locator: {path}}}
- kind: transform
  name: early
  query: SELECT count(*) AS n, sum(id) AS s FROM snap_src
- kind: sink
  name: overwrite
  connection: {{kind: parquet, locator: {path}}}
  query: SELECT id FROM snap_src WHERE id < 3
""",
    )
    written = flow.run()
    assert sorted(r["id"] for r in written.collect()) == [0, 1, 2]
    row = engine.sql(
        "SELECT (SELECT count(*) FROM snap_src) AS n_tap,"
        " (SELECT n FROM early) AS n_early, (SELECT s FROM early) AS s_early"
    ).first()
    assert (row["n_tap"], row["n_early"], row["s_early"]) == (10, 10, 45)
    assert _is_cached(engine, "snap_src")
    # read outside Spark: a Spark read of the same path would match the
    # tap's cached plan
    assert pd.read_parquet(path)["id"].tolist() == [0, 1, 2]
    engine.unregister("snap_src")


def test_versioned_tap_stays_materialized(engine, sf_dir):
    run_flow(
        engine,
        f"""
- kind: tap
  name: ranked_events
  connection:
    kind: parquet
    locator: {sf_dir}/events.parquet
    version: ts
    key: [user_id, event_type]
""",
    ).run()
    assert _is_cached(engine, "ranked_events")
    engine.unregister("ranked_events")


def test_nondeterministic_tap_stays_materialized(engine, sf_dir):
    run_flow(
        engine,
        f"""
- kind: tap
  name: sampled_orders
  connection: {{kind: parquet, locator: {sf_dir}/orders.parquet}}
  query: SELECT * FROM source WHERE rand(7) < 0.5
""",
    ).run()
    assert _is_cached(engine, "sampled_orders")
    engine.unregister("sampled_orders")


def test_rest_and_variable_taps_stay_materialized(engine):
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    hits = []

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def do_GET(self):
            hits.append(self.path)
            payload = json.dumps([{"id": 1, "v": 10}, {"id": 2, "v": 20}]).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        flow = run_flow(
            engine,
            f"""
- kind: tap
  name: api_rows
  connection: {{kind: rest, locator: "http://127.0.0.1:{srv.server_address[1]}/rows"}}
- kind: tap
  name: var_rows
  connection: {{kind: variable, locator: rows_in}}
- kind: transform
  name: total
  query: >
    SELECT (SELECT sum(v) FROM api_rows) AS api_sum,
           (SELECT count(*) FROM api_rows a JOIN var_rows r ON a.id = r.id) AS n_joined
""",
            variables={"rows_in": [{"id": 1}, {"id": 2}, {"id": 3}]},
        )
        row = flow.run().first()
        assert (row["api_sum"], row["n_joined"]) == (30, 2)
        assert engine.sql("SELECT count(*) AS n FROM api_rows").first()["n"] == 2
    finally:
        srv.shutdown()
    assert len(hits) == 1, hits
    assert _is_cached(engine, "api_rows") and _is_cached(engine, "var_rows")
    engine.unregister("api_rows")
    engine.unregister("var_rows")


def test_sink_overwriting_a_file_read_by_tap_query_keeps_its_rows(engine, tmp_path):
    """A tap whose query reads another file (outside its locator, in a
    directory whose name needs percent-encoding) is materialized before
    a sink overwrites that file."""
    import pandas as pd

    other_dir = tmp_path / "other dir"
    other_dir.mkdir()
    own, other = tmp_path / "own.parquet", other_dir / "b.parquet"
    pd.DataFrame({"id": [0]}).to_parquet(own)
    pd.DataFrame({"id": list(range(5))}).to_parquet(other)
    run_flow(
        engine,
        f"""
- kind: tap
  name: via_query
  connection: {{kind: parquet, locator: {own}}}
  query: SELECT * FROM read_parquet('{other}')
- kind: sink
  name: overwrite
  connection: {{kind: parquet, locator: {other}}}
  query: SELECT id FROM via_query WHERE id < 2
""",
    ).run()
    assert _is_cached(engine, "via_query")
    assert engine.sql("SELECT count(*) AS n FROM via_query").first()["n"] == 5
    assert pd.read_parquet(other)["id"].tolist() == [0, 1]
    engine.unregister("via_query")


def test_json_tap_with_corrupt_records_stays_materialized(engine, tmp_path):
    """Spark refuses a query on a raw JSON scan that references only
    ``_corrupt_record``; the cached tap answers it."""
    path = tmp_path / "events.jsonl"
    path.write_text('{"id": 1}\n{"id": 2\n{"id": 3}\n')
    row = run_flow(
        engine,
        f"""
- kind: tap
  name: raw_events
  connection: {{kind: json, locator: {path}}}
- kind: transform
  name: bad_lines
  query: SELECT count(*) AS n FROM raw_events WHERE _corrupt_record IS NOT NULL
""",
    ).run().first()
    assert row["n"] == 1
    assert _is_cached(engine, "raw_events")
    engine.unregister("raw_events")
