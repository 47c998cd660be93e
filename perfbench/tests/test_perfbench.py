"""Tests for the benchmark itself:

    python -m pytest perfbench/tests -q

The engine test starts a small local Spark session (about half a minute).
"""

from __future__ import annotations

import collections
import datetime
import json
import os
import re
import shutil
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import gen  # noqa: E402
import stats  # noqa: E402


_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
_UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
_PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


def check_spec(spec: dict) -> list:
    """Problems with a ``BENCHMARK.json`` document (empty when valid)."""
    errs = []
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    if set(spec) != keys:
        errs.append(f"top-level keys {sorted(spec)} != {sorted(keys)}")
        return errs
    cmd = spec["command"]
    if not (isinstance(cmd, list) and 1 <= len(cmd) <= 32
            and all(isinstance(c, str) and len(c) <= 200 for c in cmd)):
        errs.append("command must be 1-32 strings of at most 200 characters")
    elif any(c.startswith("/") or ".." in c.split("/") for c in cmd):
        errs.append("command leaves the repository")
    paths = spec["paths"]
    if not (isinstance(paths, list) and 1 <= len(paths) <= 16):
        errs.append("paths must list 1-16 directories")
    else:
        for p in paths:
            if not (isinstance(p, str) and _PATH.match(p)) or p.startswith("/") or ".." in p.split("/"):
                errs.append(f"bad path {p!r}")
    rs = spec["run_seconds"]
    if not (isinstance(rs, int) and not isinstance(rs, bool) and 1 <= rs <= 60):
        errs.append("run_seconds must be a whole number from 1 to 60")
    names: list = []
    wl = spec["workloads"]
    if not (isinstance(wl, list) and 2 <= len(wl) <= 8):
        errs.append("need 2-8 workloads")
    else:
        for w in wl:
            if set(w) != {"name", "why"}:
                errs.append(f"workload keys {sorted(w)}")
                continue
            names.append(w["name"])
            why = w["why"]
            if not (isinstance(why, str) and 0 < len(why) <= 200 and "\n" not in why):
                errs.append(f"workload {w['name']!r}: why must be one line of at most 200 characters")
    for section, lo, hi, bounded in (("end_to_end", 1, 16, True), ("per_layer", 1, 128, False)):
        ms = spec[section]
        if not (isinstance(ms, list) and lo <= len(ms) <= hi):
            errs.append(f"{section} needs {lo}-{hi} metrics")
            continue
        want = {"name", "unit", "better", "bound"} if bounded else {"name", "unit", "better"}
        for m in ms:
            if set(m) != want:
                errs.append(f"{section} metric keys {sorted(m)}")
                continue
            names.append(m["name"])
            if not _UNIT.match(str(m["unit"])):
                errs.append(f"bad unit {m['unit']!r}")
            if m["better"] not in ("lower", "higher"):
                errs.append(f"bad better {m['better']!r}")
            if bounded and not (isinstance(m["bound"], (int, float)) and 0 < m["bound"] <= 0.25):
                errs.append(f"{m['name']}: bound must be in (0, 0.25]")
    for n in names:
        if not (isinstance(n, str) and _NAME.match(n)):
            errs.append(f"bad name {n!r}")
    dup = {n for n in names if names.count(n) > 1}
    if dup:
        errs.append(f"names used twice: {sorted(dup)}")
    setup = [m for m in spec["end_to_end"] if isinstance(m, dict) and m.get("name") == "setup_s"]
    if not setup or setup[0].get("unit") != "s" or setup[0].get("better") != "lower":
        errs.append("end_to_end needs setup_s in s, lower is better")
    return errs


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b = gen.generate(5, 300), gen.generate(5, 300)
    gen.write_lines(tmp_path / "a.log", a.lines)
    gen.write_lines(tmp_path / "b.log", b.lines)
    assert (tmp_path / "a.log").read_bytes() == (tmp_path / "b.log").read_bytes()
    assert a.truth.as_dict() == b.truth.as_dict()
    assert gen.generate(6, 300).lines != a.lines


def test_line_mix_and_time_order():
    from postfix_log_parser_spark.operators.parse import _parse_row

    log = gen.generate(3, 3000, depth=32)
    kinds = collections.Counter(_parse_row(i, ln)[2] for i, ln in enumerate(log.lines))
    n = len(log.lines)
    assert abs(kinds["dropped"] / n - gen.NOISE_SHARE) < 0.02
    assert abs(kinds["dovecot"] / n - 0.03) < 0.01
    assert abs(kinds["subject"] / n - 0.06) < 0.015
    assert kinds["fault"] == 0  # no line raises in the parser
    stamps = [datetime.datetime.fromisoformat(ln.split()[0]) for ln in log.lines
              if ln[:4].isdigit()]
    assert stamps == sorted(stamps)
    t = log.truth
    assert t.faults / 3000 == pytest.approx(gen.FAULT_P, abs=0.01)
    assert (t.state - t.faults) / 3000 == pytest.approx(gen.ABANDON_P, abs=0.015)


def test_days_follow_the_step():
    log = gen.generate(1, 1000, step_s=60.0)
    assert log.days == pytest.approx(len(log.lines) * 60 / 86400)


@pytest.mark.parametrize(
    "n, p",
    [(1, 100.0), (10, 100.0), (39, 100.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p < 100:
        beyond = n - (stats.percentile(range(n), p) + 1)
        assert beyond >= stats.MIN_BEYOND


def test_summarize():
    s = stats.summarize([float(i) for i in range(1, 101)])
    assert s == {"p50": 50.5, "tail": 90.0, "tail_percentile": 90.0, "n": 100}


def test_benchmark_json_is_valid():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert check_spec(spec) == []
    import run

    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS


@pytest.mark.parametrize(
    "patch, problem",
    [
        ({"run_seconds": 0}, "run_seconds"),
        ({"paths": ["/abs"]}, "bad path"),
        ({"command": ["python3", "../x.py"]}, "leaves"),
        ({"workloads": [{"name": "a", "why": "x"}, {"name": "a", "why": "y"}]}, "twice"),
        ({"workloads": [{"name": "-a", "why": "x"}, {"name": "b", "why": "y"}]}, "bad name"),
        ({"end_to_end": [{"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.3}]}, "bound"),
        ({"end_to_end": [{"name": "x", "unit": "s", "better": "lower", "bound": 0.1}]}, "setup_s"),
        ({"per_layer": [{"name": "y", "unit": "a unit", "better": "lower"}]}, "bad unit"),
    ],
)
def test_check_spec_rejects(patch, problem):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    spec.update(patch)
    assert any(problem in e for e in check_spec(spec))


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    import engine

    session, _ = engine.start_session()
    yield session
    engine.stop_session(session)


def test_ground_truth_matches_engine(spark, tmp_path):
    import batch

    log, path, _size, _s = batch.generate_inputs(9, str(tmp_path / "in"), sessions=400)
    from postfix_log_parser_spark.__main__ import main

    assert main([path, "--out", str(tmp_path / "out")]) == 0
    assert batch.output_truth(str(tmp_path / "out")) == log.truth.as_dict()
    shutil.rmtree(tmp_path / "out")
