"""The local oracle gate must be at least as strict as the driver's hash.

Round 3 shipped its one red row (events_type_skew_report) because
tools/oracle_check.py rounded floats to 9 digits while the driver hashes
exact values -- a last-ulp cross-engine difference passed locally and
failed in CORRECTNESS_r03. These tests pin the tightened canonicalization
(VERDICT r3 item 3): values that differ in the last ulp must canonicalize
differently.
"""

import importlib.util
import math
import pathlib


def _load_oracle_check():
    path = pathlib.Path(__file__).resolve().parents[1] / "tools" / "oracle_check.py"
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_canon_cell_detects_last_ulp_float_drift():
    oc = _load_oracle_check()
    # The exact r3 failure shape: two doubles equal to 9 decimal digits but
    # differing in the last ulp (round-half-up over binary doubles can land
    # either side across engines).
    a = 1.37
    b = math.nextafter(a, 2.0)
    assert round(a, 9) == round(b, 9)  # the old 9-digit canon collapsed these
    assert oc.canon_cell(a) != oc.canon_cell(b)  # the new one must not


def test_canon_cell_decimal_scale_insensitive_value_sensitive():
    import decimal

    oc = _load_oracle_check()
    # Same exact value at different scales (Spark DECIMAL(19,2) vs DuckDB
    # minimal scale) must match; a real value difference must not.
    assert oc.canon_cell(decimal.Decimal("2.50")) == oc.canon_cell(decimal.Decimal("2.5"))
    assert oc.canon_cell(decimal.Decimal("2.50")) != oc.canon_cell(decimal.Decimal("2.51"))


def test_canon_cell_basics_unchanged():
    oc = _load_oracle_check()
    assert oc.canon_cell(None) == "NULL"
    assert oc.canon_cell(float("nan")) == "NaN"
    assert oc.canon_cell(True) == "True"
    assert oc.canon_cell(b"\x01\xff") == "01ff"
    assert oc.canon_cell([1.5, None]) == "[1.5,NULL]"


def _load_bench():
    path = pathlib.Path(__file__).resolve().parents[1] / "bench.py"
    spec = importlib.util.spec_from_file_location("bench", path)
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


def _fake_session(sc):
    """Stands in for a SparkSession: ``sc`` plays the JVM's SparkContext."""
    from types import SimpleNamespace

    return SimpleNamespace(sparkContext=SimpleNamespace(_jsc=SimpleNamespace(sc=sc)))


def _fake_queries(ran, failing):
    """Three catalog queries a, b, c with no oracle; ``failing`` maps a name
    to the exception its Spark side raises."""
    from types import SimpleNamespace

    def query(name):
        def fn(spark, sf_dir):
            ran.append(name)
            if name in failing:
                raise failing[name]
            return SimpleNamespace(columns=["X"], collect=lambda: [(1,)])

        return fn

    return {name: query(name) for name in "abc"}


def test_oracle_check_stops_when_the_spark_jvm_dies(capsys):
    """A Spark error after which the session's JVM is gone stops the run with
    one line naming the query and the count not run, instead of reporting
    every later query as a connection failure."""
    from py4j.protocol import Py4JNetworkError

    oc = _load_oracle_check()
    refused = Py4JNetworkError("An error occurred while trying to connect to the Java server")

    def dead_jvm():
        raise refused

    ran = []
    qs = _fake_queries(ran, {"a": refused})
    assert oc.check_all(_fake_session(dead_jvm), "unused", qs, {}, set()) == 1
    out = capsys.readouterr().out.splitlines()
    assert ran == ["a"]
    assert len(out) == 1 and out[0].startswith("ABORT a:") and "2 queries not run" in out[0]


def test_oracle_check_goes_on_after_a_query_error_in_a_live_session(capsys):
    """A Spark error in a session whose JVM is alive is one FAIL, and the
    run goes on to the next query."""
    from types import SimpleNamespace

    oc = _load_oracle_check()
    ran = []
    qs = _fake_queries(ran, {"a": RuntimeError("query failed")})
    alive = _fake_session(lambda: SimpleNamespace(isStopped=lambda: False))
    assert oc.check_all(alive, "unused", qs, {}, set()) == 1
    out = capsys.readouterr().out
    assert ran == ["a", "b", "c"]
    assert "FAIL  a: spark error: query failed" in out and "1 failed, 2 rows-only" in out


def test_bench_json_contract(monkeypatch, capsys, tmp_path):
    """bench.py must emit ONE parseable JSON line with the driver's
    expected keys, under the 2000-char stdout-tail budget. Runs a
    2-query HEADLINE at smoke scale so the contract (not throughput)
    is what's tested, on generated data so that it runs anywhere."""
    import json

    from tools.make_testdata import generate

    bench = _load_bench()
    sf_dir = str(tmp_path / "sf0.001")
    generate(sf_dir, scale=1)
    monkeypatch.setattr(bench, "HEADLINE", ["pricing_summary", "order_revenue"])
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_SF1_DIR", "/nonexistent")  # skip 10x pass
    # the 100x decade block reads its OWN env var -- without this, the
    # contract test silently runs the full SF10_QUERIES set whenever the
    # .bench_sf10 fixture exists on disk (measured: a 17-minute test)
    monkeypatch.setenv("SPARK_GRAFT_SF10_DIR", "/nonexistent")
    monkeypatch.setenv("SPARK_GRAFT_DETAIL", str(tmp_path / "detail.json"))
    assert bench.main() == 0
    line = capsys.readouterr().out.strip().splitlines()[-1]
    assert len(line) <= 1900
    out = json.loads(line)
    assert out["metric"] == "headline_queries_total_sec"
    assert out["unit"] == "sec"
    assert out["sf"] == 0.001
    assert set(out["queries"]) == {"pricing_summary", "order_revenue"}
    assert out["value"] > 0
    # the cleanup time between queries is reported per block, outside the
    # per-query timings
    gc_s = json.loads((tmp_path / "detail.json").read_text())["gc_overhead_s"]
    assert set(gc_s) == {"headline"} and gc_s["headline"] >= 0


def test_bench_heap_is_half_the_machine_up_to_48g(monkeypatch):
    """bench.py asks for half of physical memory up to 48g, or
    SPARK_DRIVER_MEMORY, and importing it leaves os.environ alone."""
    import os

    from aws_glue_cdc_metrics_job_spark import session

    before = dict(os.environ)
    bench = _load_bench()
    assert dict(os.environ) == before
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    page = 4096
    for phys_gb, want in ((15, "7680m"), (64, "32768m"), (128, "49152m")):
        sizes = {"SC_PHYS_PAGES": phys_gb * 1024**3 // page, "SC_PAGE_SIZE": page}
        monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
        assert bench._driver_memory() == want, phys_gb
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert bench._driver_memory() == "3g"


def test_dashboard_export_renders_all_tabs(spark, sf_dir):
    """The BI rendering edge (VERDICT r4 missing item 2): every tab's frame
    computes in Spark and the standalone HTML carries 7 sections, stat
    tiles, SVG charts, a table view per chart, and the tooltip layer."""
    import importlib.util
    import pathlib

    path = pathlib.Path(__file__).resolve().parents[1] / "tools" / "dashboard_export.py"
    spec = importlib.util.spec_from_file_location("dashboard_export", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    frames = mod.build_frames(spark, sf_dir)
    doc = mod.render_html(frames, sf_dir)
    assert doc.count("<section>") == 7
    assert doc.count("Table view") == 6  # churn tab is a pure KPI row
    assert doc.count('class="tile"') >= 11
    assert "<svg" in doc and "crosshair" in doc and "bar-hit" in doc
    # text tokens carry labels, marks carry the series color (no colored text)
    assert 'fill: var(--series-1)' in doc and "svg text { fill: var(--ink-1)" in doc


def test_dashboard_serve_interactive_roundtrip(spark, sf_dir):
    """The INTERACTIVE BI surface (VERDICT r5 missing item 2): the server
    renders over a live SparkSession, serves HTTP 200 with all 7 tabs,
    exposes a refresh control that recomputes frames in Spark, and
    answers /healthz without touching Spark."""
    import importlib.util
    import pathlib
    import threading
    import urllib.request
    from http.server import HTTPServer

    tools = pathlib.Path(__file__).resolve().parents[1] / "tools"
    for name in ("dashboard_export", "dashboard_serve"):
        spec = importlib.util.spec_from_file_location(name, tools / f"{name}.py")
        mod = importlib.util.module_from_spec(spec)
        import sys as _sys

        _sys.modules[name] = mod  # serve imports export by module name
        spec.loader.exec_module(mod)
    serve = _sys.modules["dashboard_serve"]

    srv = serve.DashboardServer(spark, sf_dir)
    first = srv.document()
    assert first.count("<section>") == 7 and "Refresh data" in first
    assert srv.document() is first  # cached: no recompute on plain GET
    assert srv.document(refresh=True) is not first  # refresh recomputes

    httpd = HTTPServer(("127.0.0.1", 0), srv.handler_class())
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/healthz", timeout=10) as r:
            assert r.status == 200 and r.read() == b"ok"
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/", timeout=60) as r:
            body = r.read().decode()
            assert r.status == 200
            assert body.count("<section>") == 7 and "Refresh data" in body
    finally:
        httpd.shutdown()


def test_bench_refuses_an_sf10_name_the_catalog_lacks(monkeypatch):
    """The sf10 block's hand list is checked against the catalog at import:
    a renamed query fails the bench instead of dropping out of it."""
    import pytest

    from aws_glue_cdc_metrics_job_spark.plans import catalog

    catalog.load_all()
    monkeypatch.delitem(catalog.QUERIES, "emb_perceptron_train")
    with pytest.raises(ValueError, match="emb_perceptron_train"):
        _load_bench()


def test_bench_emit_trims_and_writes_atomically(tmp_path):
    """_emit: every emitted line must fit a 2000-char stdout tail by dropping the FASTEST queries first, the full
    dict must always land in the detail file, the original out dict must
    stay untrimmed for later cumulative emits, and the detail write must
    be tmp+rename (no truncated file visible at the final path)."""
    import io
    import json
    import os
    from contextlib import redirect_stdout

    bench = _load_bench()

    queries = {f"query_name_{i:04d}": round(0.01 * i, 2) for i in range(400)}
    out = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
    }
    detail = {"sf": 0.1, "queries": queries}
    dpath = str(tmp_path / "detail.json")
    buf = io.StringIO()
    with redirect_stdout(buf):
        bench._emit(out, detail, dpath)
    line = buf.getvalue().strip().splitlines()[-1]
    assert len(line) <= 1900
    emitted = json.loads(line)
    # slowest entries survive the trim; the fastest are spilled
    kept = set(emitted["queries"])
    assert "query_name_0399" in kept and "query_name_0001" not in kept
    assert "fastest in bench_detail.json" in emitted["queries_spilled"]
    # the caller's dict is untouched (later cumulative emits need it full)
    assert len(out["queries"]) == 400 and "queries_spilled" not in out
    # detail file carries the FULL set, and no tmp residue remains
    assert len(json.load(open(dpath))["queries"]) == 400
    assert not os.path.exists(dpath + ".tmp")
