"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

The smoke tests start Spark once per workload on the tiny input sizes
(``run.py --tiny``), so the module takes a few minutes.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _same_files(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names
    )


def test_same_seed_same_bytes(tmp_path):
    for name in ("a", "b"):
        datagen.write_raw(str(tmp_path / f"raw-{name}"), seed=7, n_tickers=300)
        datagen.write_star(str(tmp_path / f"star-{name}"), sf=0.002)
    datagen.write_raw(str(tmp_path / "raw-other"), seed=8, n_tickers=300)
    assert _same_files(str(tmp_path / "raw-a"), str(tmp_path / "raw-b"))
    assert _same_files(str(tmp_path / "star-a"), str(tmp_path / "star-b"))
    assert not _same_files(str(tmp_path / "raw-a"), str(tmp_path / "raw-other"))


def test_raw_data_plants_the_edge_cases(tmp_path):
    import duckdb

    datagen.write_raw(str(tmp_path), seed=3, n_tickers=2000)
    raw = datagen.RawData(str(tmp_path))
    con = duckdb.connect()
    info, fin = f"'{raw.info}'", f"'{raw.financials}'"
    hot_share = con.execute(
        f"SELECT avg((industry = '{datagen.HOT_INDUSTRY}')::INT) FROM {info}").fetchone()[0]
    assert 0.25 < hot_share < 0.35
    assert con.execute(
        f"SELECT count(*) FROM {info} WHERE industry = '{datagen.SOLO_INDUSTRY}'").fetchone()[0] == 1
    assert con.execute(f"SELECT count(*) FROM {info} WHERE industry IS NULL").fetchone()[0] > 0
    per_ticker = con.execute(
        f"SELECT ticker, count(*) AS n, count(*) FILTER (WHERE month = (SELECT max(month) FROM"
        f" {fin} f2 WHERE f2.ticker = f.ticker)) AS top FROM {fin} f GROUP BY ticker").fetchall()
    assert any(n == 1 for _, n, _ in per_ticker)  # single quarter
    assert any(top > 1 for _, _, top in per_ticker)  # tied latest quarter
    assert con.execute(
        f"SELECT count(*) FROM {fin} WHERE ticker NOT IN (SELECT ticker FROM {info})"
    ).fetchone()[0] > 0
    assert con.execute(f'SELECT count(*) FROM {fin} WHERE "EBITDA" = 0').fetchone()[0] > 0
    assert len(con.execute(f"DESCRIBE SELECT * FROM {info}").fetchall()) >= 35
    summary = con.execute(f"SELECT min(length(longBusinessSummary)) FROM {info}").fetchone()[0]
    assert summary >= 1000
    stream = datagen.ticker_stream(3, 0, raw.tickers, 4000)
    assert stream == datagen.ticker_stream(3, 0, raw.tickers, 4000)
    top = max(set(stream), key=stream.count)
    assert stream.count(top) > 100  # Zipf skew: one ticker draws a few percent


def test_setup_time_has_the_largest_bound():
    spec = _spec()
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"]) <= 0.25
    assert {w["name"] for w in spec["workloads"]} <= {"serve", "refresh", "headline"}


def _session_members(sid: int) -> list[str]:
    """The processes still in session ``sid``: pid, name, state and
    command line."""
    left = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        # fields after the command name: state, ppid, pgrp, session, ...
        end = stat.rindex(")")
        if int(stat[end + 2 :].split()[3]) == sid:
            left.append(f"{stat[: end + 3]} {cmd}")
    return left


def _run(workload: str, trace: int) -> dict:
    """One tiny run in a session of its own; no process of that session
    may outlive it."""
    proc = subprocess.Popen(
        [sys.executable, RUN, "--workload", workload, "--seed", "1", "--seconds", "1",
         "--trace", str(trace), "--tiny"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, start_new_session=True,
    )
    out, err = proc.communicate(timeout=600)
    assert proc.returncode == 0, err[-3000:]
    assert _session_members(proc.pid) == []
    return json.loads(out.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["serve", "refresh", "headline"])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_smoke_run(workload, trace):
    """Every workload passes its output checks, and prints exactly the
    metrics BENCHMARK.json names, in its units."""
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = _spec()
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())


def test_refuses_to_run_without_the_package(tmp_path):
    """In a directory with only BENCHMARK.json and perfbench/ there is
    nothing to measure: exit non-zero and print no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=120,
        check=False,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
