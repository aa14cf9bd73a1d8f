"""The benchmark's workloads, each driving the unmodified package.

A workload has a program-side ``setup`` (what a user of the system pays
once), an ``op`` (the unit whose latency is reported) and a ``verify``
step that checks the ops' outputs against DuckDB after the timed phase.

Every call into a layer's public function goes through a ``Probe``. The
untimed/untraced ``Probe`` adds nothing around the call; ``TracingProbe``
records a span per call, tags the Spark jobs of each op and each action,
and reads Spark's own metrics for them once the op has ended.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import random
import threading
import time

import checks
import datagen
from tracing import SparkMetrics, Tracer, catalyst_ms, delivery_ms, scan_bytes

from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans import dashboard
from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.catalog import QUERIES
from aws_etl_pipeline_financial_streamlit_dashboard_spark.plans.cleaning import run_transform
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.readers import read_table
from aws_etl_pipeline_financial_streamlit_dashboard_spark.sources.sinks import (
    write_parquet_overwrite,
)

SERVE_USERS = 4
HEADLINE = ["q07_flagship_industry_avg", "q08_monthly_avg_series", "q16_star_join_revenue",
            "q17_pricing_summary", "q34_star_join_bucketed"]


class Probe:
    """Untraced calls: no spans, no job tags, no metric reads."""

    def span(self, name: str, op: int | None = None, **attrs):
        return contextlib.nullcontext()

    def op(self, op: int):
        return contextlib.nullcontext()

    def collect(self, df, result: str, pandas: bool):
        return df.toPandas() if pandas else df.collect()

    def write(self, df, path: str, result: str) -> None:
        write_parquet_overwrite(df, path)


class TracingProbe(Probe):
    def __init__(self, spark):
        self.tracer = Tracer()
        self.metrics = SparkMetrics(spark)
        self.ops: dict[int, dict] = {}
        self._tags = itertools.count(1)
        self._lock = threading.Lock()

    def span(self, name: str, op: int | None = None, **attrs):
        return self.tracer.span(name, op, **attrs)

    @contextlib.contextmanager
    def op(self, op: int):
        """Run one op under a job tag of its own. Spark's metrics and the
        plans of its actions are read after the op span has closed, so
        the span's wall time holds none of the tracer's own reads."""
        rec = {"op": op, "actions": []}
        with self._lock:
            self.ops[op] = rec
        with self.metrics.tagged(f"op-{op}"), self.span("op", op) as s:
            yield
        rec["wall_ms"] = (s["end"] - s["start"]) * 1e3
        rec["spark"] = self.metrics.jobs(f"op-{op}")
        for a in rec["actions"]:
            a["spark"] = self.metrics.jobs(a["tag"])
            a["delivery_ms"] = delivery_ms(a["wall"], a["spark"]["intervals"])
            df = a.pop("df")
            if a["kind"] == "write":
                # The write ran under a QueryExecution of its own that
                # Python cannot reach; plan the written frame once more
                # to read the Catalyst phases and scans its plan costs.
                df._jdf.queryExecution().executedPlan()
                a["files"] = sum(f.endswith(".parquet") for f in os.listdir(a.pop("path")))
            a["phases"] = catalyst_ms(df)
            a["scan_bytes"] = scan_bytes(df)
        rec["rdd_bytes_pinned"] = self.metrics.rdd_bytes_pinned()

    def _action(self, kind: str, df, result: str, run, **attrs):
        tag = f"action-{next(self._tags)}"
        with self.metrics.tagged(tag), self.span(f"spark.action.{kind}", result=result) as s:
            out = run()
        a = {"tag": tag, "kind": kind, "result": result, "wall": (s["start"], time.time()),
             "df": df, **attrs}
        self.ops[s["op"]]["actions"].append(a)
        return out, a

    def collect(self, df, result: str, pandas: bool):
        kind = "toPandas" if pandas else "collect"
        out, a = self._action(kind, df, result, lambda: Probe.collect(self, df, result, pandas))
        a["rows"] = len(out)
        return out

    def write(self, df, path: str, result: str) -> None:
        with self.span("sources.sinks.write_parquet_overwrite", result=result):
            self._action("write", df, result, lambda: write_parquet_overwrite(df, path),
                         path=path, rows=0)


def _records(pdf) -> list[dict]:
    return [{k: checks.norm(v) for k, v in r.items()} for r in pdf.to_dict("records")]


# ------------------------------------------------------------------ serve


class Serve:
    """One dashboard interaction per op, 4 closed-loop users."""

    users = SERVE_USERS

    def __init__(self, inputs: str, work: str, seed: int):
        self.raw = datagen.RawData(inputs)
        self.serving = os.path.join(work, "serving")
        self.streams = [
            datagen.ticker_stream(seed, u, self.raw.tickers, 5000)
            for u in range(self.users)
        ]

    def setup(self, spark, probe: Probe) -> None:
        """The program's refresh path writes the serving tables, which are
        then opened through the package's reader."""
        _refresh(spark, probe, self.raw, self.serving)
        self.tables = {
            t: read_table(spark, self.serving, t)
            for t in ("company_info", "financial_statements", "ratios", "stock_price")
        }

    def warmup_inputs(self) -> list[list[str]]:
        """The fixed check sample, spread over the users."""
        return [self.raw.sample[u :: self.users] for u in range(self.users)]

    def next_input(self, user: int, i: int) -> str:
        return self.streams[user][i % len(self.streams[user])]

    def op(self, spark, probe: Probe, op: int, ticker: str) -> dict:
        t = self.tables
        ci, fs, ra, sp = t["company_info"], t["financial_statements"], t["ratios"], t["stock_price"]
        calls = [
            ("company_header", dashboard.company_header, (ci, ticker)),
            ("financial_statements", dashboard.point_lookup, (fs, ticker)),
            ("ratios", dashboard.point_lookup, (ra, ticker)),
            ("company_price_series", dashboard.company_price_series, (sp, ticker)),
            ("industry_price_series", dashboard.industry_price_series, (ci, sp, ticker)),
            ("comparison_table", dashboard.comparison_table, (ci, fs, ra, ticker)),
        ]
        out = {}
        for result, fn, args in calls:
            with probe.span(f"plans.dashboard.{fn.__name__}", result=result):
                df = fn(*args)
            out[result] = _records(probe.collect(df, result, pandas=True))
        return out

    def verify(self, done: list[dict]) -> None:
        # The oracle reads the serving tables the program wrote, so check
        # those against cleaning.py first: every op served from them.
        tables = checks.refresh_matches(self.raw, self.serving)
        oracle = checks.ServeOracle(self.serving, {d["input"] for d in done})
        for d in done:
            if d["error"] is not None:
                continue
            if not all(tables.values()):
                d["error"] = f"serving tables differ: {tables}"
            elif not oracle.check(d["input"], d["output"]):
                d["error"] = f"output mismatch for {d['input']}"


# ---------------------------------------------------------------- refresh


def _refresh(spark, probe: Probe, raw, out_dir: str) -> None:
    with probe.span("sources.read"):
        info = spark.read.parquet(raw.info)
        stock = spark.read.parquet(raw.stock)
        fin = spark.read.parquet(raw.financials)
    with probe.span("plans.cleaning.run_transform"):
        tables = run_transform(info, stock, fin)
    for name, df in tables.items():
        probe.write(df, os.path.join(out_dir, f"{name}.parquet"), result=name)


class Refresh:
    """One ETL refresh per op: raw extracts to the four serving tables."""

    users = 1

    def __init__(self, inputs: str, work: str, seed: int):
        self.raw = datagen.RawData(inputs)
        self.out = os.path.join(work, "serving")

    def setup(self, spark, probe: Probe) -> None:
        pass

    def warmup_inputs(self) -> list[list[None]]:
        return [[None]]

    def next_input(self, user: int, i: int) -> None:
        return None

    def op(self, spark, probe: Probe, op: int, _input) -> dict:
        _refresh(spark, probe, self.raw, self.out)
        return {}

    def verify(self, done: list[dict]) -> None:
        # Every op rewrites the same tables from the same raw files, so
        # the last output stands for all of them.
        result = checks.refresh_matches(self.raw, self.out)
        if not all(result.values()):
            for d in done:
                d["error"] = d["error"] or f"serving tables differ: {result}"


# --------------------------------------------------------------- headline


class Headline:
    """One pass of the five headline catalog queries per op, in a
    seed-permuted order, over the star tables at datagen.SIZES' scale."""

    users = 1

    def __init__(self, inputs: str, work: str, seed: int):
        self.sf_dir = inputs
        self.rng = random.Random(seed)

    def setup(self, spark, probe: Probe) -> None:
        pass

    def warmup_inputs(self) -> list[list[list[str]]]:
        # the first pass compiles; pass times keep falling while the JIT
        # settles over the next two
        return [[list(HEADLINE)] * 3]

    def next_input(self, user: int, i: int) -> list[str]:
        order = list(HEADLINE)
        self.rng.shuffle(order)
        return order

    def op(self, spark, probe: Probe, op: int, order: list[str]) -> dict:
        out = {}
        for name in order:
            with probe.span(f"plans.catalog.{name}", result=name):
                df = QUERIES[name].spark(spark, self.sf_dir)
            rows = probe.collect(df, name, pandas=False)
            out[name] = checks.frame_key(df.columns, [tuple(r) for r in rows])
        return out

    def verify(self, done: list[dict]) -> None:
        want = checks.oracle_keys(self.sf_dir, {n: QUERIES[n].oracle for n in HEADLINE})
        for d in done:
            bad = [n for n in HEADLINE if d["error"] is None and d["output"][n] != want[n]]
            if bad:
                d["error"] = f"differs from the DuckDB oracle: {bad}"


WORKLOADS = {"serve": Serve, "refresh": Refresh, "headline": Headline}


def run_ops(workload, spark, probe: Probe, first_op: int, seconds: float | None = None,
            inputs: list[list] | None = None) -> list[dict]:
    """Closed loop: each user starts its next op as soon as the previous
    one ends. With ``seconds``, every op started before the deadline is
    counted; a user whose counted op ends while another user's is still
    running keeps the load up with uncounted ops, so every counted op
    runs at the full user count. With ``inputs``, each user runs its list."""
    done: list[dict] = []
    lock = threading.Lock()
    op_ids = itertools.count(first_op)
    t_end = time.time() + (seconds or 0)
    users = len(inputs) if inputs is not None else workload.users
    in_flight = [0]  # counted ops not yet finished

    def user(u: int) -> None:
        i = 0
        while True:
            if inputs is not None:
                if i == len(inputs[u]):
                    return
                inp, counted = inputs[u][i], True
            else:
                inp = workload.next_input(u, i)
                with lock:
                    counted = time.time() < t_end
                    if not counted and in_flight[0] == 0:
                        return
                    in_flight[0] += counted
            i += 1
            with lock:
                op = next(op_ids)
            rec = {"op": op, "user": u, "input": inp, "error": None, "output": None}
            rec["start"] = time.time()
            try:
                with probe.op(op) if counted else contextlib.nullcontext():
                    rec["output"] = workload.op(spark, probe if counted else Probe(), op, inp)
            except Exception as exc:  # a failed op is counted, not fatal
                rec["error"] = f"{type(exc).__name__}: {exc}"
            rec["end"] = time.time()
            with lock:
                if counted:
                    done.append(rec)
                    if inputs is None:
                        in_flight[0] -= 1

    threads = [threading.Thread(target=user, args=(u,)) for u in range(users)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return done
