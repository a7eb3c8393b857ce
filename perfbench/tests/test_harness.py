"""Tests of the benchmark harness itself (no Spark needed):

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import types

import pytest

import eventlog
import inputs
import run
import steady
import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _digest(path: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(path, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(path))
    }


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("workload", sorted(inputs.GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    gen = inputs.GENERATORS[workload]
    out = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = tmp_path / tag
        d.mkdir()
        gen(str(d), seed, ROOT)
        out[tag] = _digest(str(d))
    assert out["a"] == out["b"]
    assert out["a"].keys() == out["c"].keys()
    primary = {"dump_pgexport": "dump.sql", "corpus_duckdb": "corpus.sql"}
    assert out["a"][primary[workload]] != out["c"][primary[workload]]


def test_ensure_inputs_caches_by_seed(tmp_path, monkeypatch):
    calls = []
    monkeypatch.setitem(inputs.GENERATORS, "fake",
                        lambda out, seed, root: calls.append(seed))
    a = inputs.ensure_inputs(str(tmp_path), "fake", 1)
    assert inputs.ensure_inputs(str(tmp_path), "fake", 1) == a
    inputs.ensure_inputs(str(tmp_path), "fake", 2)
    assert calls == [1, 2]


def test_corpus_generator_covers_every_catalog_type():
    catalog = inputs.corpus_catalog(ROOT)
    bases = {re.match(r"[a-z]+", c["column_type"].lower()).group()
             for c in catalog["columns"]}
    assert len(bases) == 40
    import random

    r = random.Random(0)
    for c in catalog["columns"]:
        for unique in (False, True):
            v = inputs.corpus_value(c["column_type"], r, 3, unique)
            assert v and v != "NULL"


def test_corpus_values_respect_type_bounds():
    import random

    r = random.Random(1)
    for _ in range(200):
        v = inputs.corpus_value("decimal(5,2)", r, 0, False)
        whole, frac = v.lstrip("-").split(".")
        assert len(whole) <= 3 and len(frac) == 2
        assert -128 <= int(inputs.corpus_value("tinyint", r, 0, False)) <= 127
        assert 0 <= int(inputs.corpus_value("tinyint unsigned", r, 0,
                                            False)) <= 255
        s = inputs.corpus_value("set('x', 'y', 'z')", r, 0, False)
        assert set(filter(None, s.strip("'").split(","))) <= {"x", "y", "z"}
        e = inputs.corpus_value("enum('a', 'b', 'c')", r, 0, False)
        assert e.strip("'") in "abc"
        b = inputs.corpus_value("binary(10)", r, 0, False)
        assert len(b) == 2 + 20


def test_mysql_literal_escapes():
    assert inputs.mysql_literal("O'Brien\\x\n") == "'O\\'Brien\\\\x\\n'"


# ---------------------------------------------------------------------------
# COPY text decoding used by the dump_pgexport check
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("field,value", [
    ("\\N", None),
    ("plain", "plain"),
    ("a\\tb\\nc\\\\d", "a\tb\nc\\d"),
    ("\\\\N", "\\N"),
    ("\\101\\x42", "AB"),
    ("\\\\x48", "\\x48"),
    ("café", "café"),
])
def test_pg_copy_decode_field(field, value):
    assert workloads.pg_copy_decode_field(field) == value


def test_parse_load_script(tmp_path):
    p = tmp_path / "load.sql"
    p.write_text("\\i schema_pre.sql\n"
                 "\\copy \"orders\" (\"a\", \"b\") from "
                 "'orders.copy/part-0.txt' with (format text)\n")
    assert workloads.parse_load_script(str(p)) == [
        ("orders", ["a", "b"], "orders.copy/part-0.txt")]


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


def _span(i, name, a, b, parent=None, mig=1):
    return tracing.Span(i, name, a, b, parent, mig)


def test_covered_merges_and_clips():
    assert tracing.covered([], 0, 10) == 0
    assert tracing.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert tracing.covered([(-5, 2), (9, 20)], 0, 10) == 3


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, "root", 0.0, 10.0),
        _span(2, "a", 1.0, 4.0, parent=1),
        _span(3, "a", 3.0, 6.0, parent=1),   # overlaps 2 (parallel thread)
        _span(4, "b", 2.0, 3.0, parent=2),   # grandchild: not root's child
    ]
    st = tracing.self_times(spans)
    assert st[1] == pytest.approx(10 - 5)
    assert st[2] == pytest.approx(3 - 1)
    assert st[3] == pytest.approx(3)
    red = tracing.reduce_spans(spans)
    assert red["a"].calls == 2
    assert red["a"].total_s == pytest.approx(6)
    assert red["a"].self_s == pytest.approx(5)


def test_tracer_nests_records_and_patches(monkeypatch):
    clock = iter(float(x) for x in range(100))
    tr = tracing.Tracer(clock=lambda: next(clock))
    mod = types.ModuleType("perfbench_fake_mod")
    user = types.ModuleType("perfbench_fake_user")

    def inner(x):
        return [x] * x

    def outer(x):
        return mod.inner(x)

    mod.inner, mod.outer = inner, outer
    user.inner = inner  # a "from mod import inner" binding
    monkeypatch.setitem(__import__("sys").modules, mod.__name__, mod)
    monkeypatch.setitem(__import__("sys").modules, user.__name__, user)
    tr.patch(mod.__name__, "inner", "layer.inner")
    tr.patch(mod.__name__, "outer", "layer.outer")
    tr.measures["layer.inner"] = len
    assert user.inner is mod.inner is not inner

    tr.begin_migration(5)
    assert mod.outer(3) == [3, 3, 3]
    tr.end_migration()
    tr.enabled = False
    mod.outer(2)  # untraced call records nothing
    by_name = {s.name: s for s in tr.spans}
    assert set(by_name) == {"layer.inner", "layer.outer", "migration"}
    assert by_name["layer.inner"].parent == by_name["layer.outer"].id
    assert by_name["layer.outer"].parent == by_name["migration"].id
    assert by_name["layer.inner"].info == 3
    assert {s.migration for s in tr.spans} == {5}
    tr.unpatch_all()
    assert mod.inner is inner and user.inner is inner


def test_tracer_marks_failed_calls():
    tr = tracing.Tracer()

    def boom():
        raise ValueError("x")

    with pytest.raises(ValueError):
        tr.wrap("t.boom", boom)()
    assert tr.spans[0].failed


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

TINY_LOG = os.path.join(HERE, "data", "tiny_eventlog.json")


def test_eventlog_parser_on_recorded_log():
    log = eventlog.parse(TINY_LOG)
    assert len(log.jobs) == 2
    assert sum(len(j.stage_ids) for j in log.jobs) >= 2
    assert len(log.tasks) >= 2
    everything = eventlog.window(log, 0, float("inf"))
    assert everything.jobs == 2
    assert everything.tasks == len(log.tasks)
    assert everything.run_s > 0
    assert everything.cpu_s > 0
    assert everything.output_mb > 0  # the recorded job wrote parquet
    # attribution by Python call site: the recorded jobs were launched
    # from a file under mysql2pg_spark/operators/
    assert everything.run_s_by_layer["operators"] > 0
    assert sum(everything.run_s_by_layer.values()) == pytest.approx(
        everything.run_s)
    first = log.jobs[0].submit_ms
    only_first = eventlog.window(log, first, first + 1)
    assert only_first.jobs == 1


def test_layer_of_call_sites():
    assert eventlog.layer_of(
        "collect at /x/mysql2pg_spark/sinks/dbapi_sink.py:112") == "sinks"
    assert eventlog.layer_of(
        "collect at /x/mysql2pg_spark/orchestrator.py:1290") == "orchestrator"
    assert eventlog.layer_of("parquet at NativeMethodAccessorImpl.java:0") \
        == "other"


# ---------------------------------------------------------------------------
# metric names and the BENCHMARK.json contract
# ---------------------------------------------------------------------------


def _fake_run(tmp_path):
    out = workloads.Outcome(
        wall_s=2.0, rows=100, ops_attempted=10, ops_failed=1,
        stage_s={"data": 1.0, "validate": 0.5}, sink_bytes=1000, tables=3,
        validated=3, mismatches=0)
    r = run.Run()
    r.cold = 4.0
    for k, traced in enumerate((True, False, True, False)):
        r.walls.append(2.0 + k)
        r.cpu.append({"driver": 1.0, "jvm": 2.0, "pyworker": 0.5})
        r.peaks.append(100.0 + k)
        r.outcomes.append(out)
        r.windows.append((0.0, 1.0, traced, k + 1))
    tr = tracing.Tracer()
    tr.spans = [
        tracing.Span(1, "session.start", 0, 1, None, None),
        tracing.Span(2, "migration", 0, 2, None, 1),
        tracing.Span(3, "orchestrator.plan", 0, 1, 2, 1, info=(5, 2)),
        tracing.Span(4, "sinks.write", 1, 2, 2, 1),
    ]
    (tmp_path / "events").mkdir()
    wl = types.SimpleNamespace(source_rows=100)
    return wl, r, tr


def test_every_emitted_metric_is_declared(tmp_path):
    bench = _bench()
    wl, r, tr = _fake_run(tmp_path)
    e2e = run.end_to_end(wl, r, setup_s=1.0)
    layer = run.layer_metrics(wl, r, tr, str(tmp_path), 4)
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert {k: v["unit"] for k, v in e2e.items()} == declared_e2e
    assert {k: v["unit"] for k, v in layer.items()} == declared_layer
    for name in list(e2e) + list(layer):
        assert NAME_RE.match(name), name


def test_worsening_follows_the_better_direction():
    assert steady.worsening(10.0, 12.0, "lower") == pytest.approx(0.2)
    assert steady.worsening(10.0, 8.0, "higher") == pytest.approx(0.2)
    assert steady.worsening(10.0, 12.0, "higher") == pytest.approx(-0.2)


def test_compare_flags_a_median_worse_than_its_bound():
    metrics = {"migration_s": {"better": "lower", "bound": 0.25},
               "cache_hits": {"better": "higher"}}

    def runs(*values):
        return {"w": [{"metrics": {"migration_s": {"value": v},
                                   "cache_hits": {"value": 1}}}
                      for v in values]}
    assert steady.compare(runs(4, 5, 6), runs(5, 6, 7), metrics)
    assert not steady.compare(runs(4, 5, 6), runs(6, 7, 8), metrics)


def test_benchmark_json_contract():
    bench = _bench()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert bench["paths"] == ["perfbench"]
    assert 2 <= len(bench["workloads"]) <= 8
    assert 1 <= bench["run_seconds"] <= 60
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
        assert w["name"] in workloads.WORKLOADS
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower",
                      "bound": max(m["bound"] for m in bench["end_to_end"])}]
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", m["unit"])
