"""The ``sheets_roundtrip`` workload: the connector's own surface
against the benchmark's fake Sheets server.

One pass, in this order (each step needs the previous one):

1. ``write``  - ``write_gsheet`` of the seeded frame, overwrite mode;
2. ``bind``   - ``read_gsheet``: the values and metadata fetch, type
   inference and casting that give the DataFrame its schema;
3. ``scan``   - ``count()`` on the read frame (its first action);
4. ``rescan`` - a group-by on the same frame (its second action);
5. ``range``  - an ``overwrite_range`` write into a bounded range;
6. ``append`` - an append-mode write below the table;
7. ``sql``    - ``sheets_sql`` over the bare sheet URL, then collect.

Every step's result is checked outside the clock, including the exact
HTTP calls it made (``tools/connector_bench.py``'s formulas: a write
makes ceil(rows/2048) appends plus a header append and a clear; a bind
makes one values GET and one metadata GET).  The warm-up pass also
checks that the read-back equals the written cells after the
connector's type collapse (numbers to double, dates to strings, blanks
to NULL).
"""

from __future__ import annotations

import math
import random
import sys
from collections import Counter
from contextlib import nullcontext
from datetime import date, timedelta

from perfbench import harness
from perfbench.fake_server import FakeSheetsProcess
from perfbench.harness import StealClock, drain_listener, group_jobs, set_job_group

BATCH_ROWS = 2048  # the connector's append batch (datasource.BATCH_ROWS)
SHEET_ID = "perfbench-sheet"
URL = f"https://docs.google.com/spreadsheets/d/{SHEET_ID}/edit"
TOKEN = "perfbench-token"

#: Rows of the full-sheet frame; the ranged write and the append carry
#: a tenth and a twentieth of it.
SIZES = {"bench": 10_000, "smoke": 2_000}

SCHEMA = (
    "id long, qty long, price double, name string, flag boolean, "
    "day date, category string, score double"
)
CATEGORIES = ("north", "south", "east", "west", "über", "naïve", "a,b", 'say "hi"')
_WORDS = ("alpha", "beta", "gamma", "delta", "ünïcødé", "日本語", "x,y", 'q"uote', "O'Neil")

#: Fewest timed passes of an untraced run.  Passes are flat after the
#: warm-up pass (8.0-8.3 s in one run on four cores), so two suffice,
#: which keeps a run near a minute.
MIN_PASSES = 2

#: Steps that run Spark jobs, as opposed to binding a DataFrame.
ACTIONS = ("write", "scan", "rescan", "range", "append", "sql")

#: Per-layer metrics of this workload.
LAYER_KEYS = (
    "gsheets.read_bind_s", "gsheets.bind_client_s", "gsheets.scan_s",
    "gsheets.rescan_s", "gsheets.scan_partitions", "gsheets.commit_s",
    "gsheets.commit_gap_s", "gsheets.write_rows_per_s", "gsheets.read_rows_per_s",
    "http.calls.values_get", "http.calls.values_append", "http.calls.values_update",
    "http.calls.values_clear", "http.calls.metadata_get", "http.calls.batch_update",
    "http.bytes_out_per_cell", "http.bytes_in_per_cell", "http.ok_ratio",
    "http.server_s",
    "exec.s", "exec.jobs", "exec.tasks", "exec.task_s", "exec.cpu_s", "exec.gc_s",
    "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
)


def make_rows(rng: random.Random, n: int, first_id: int = 0) -> list[tuple]:
    """Seeded rows of SCHEMA with about 5% blanks; the first row has no
    blanks, because the connector infers types from it."""
    rows = []
    day0 = date(2020, 1, 1)

    def maybe(value, i):
        return None if i > 0 and rng.random() < 0.05 else value

    for i in range(n):
        name = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(1, 3)))
        rows.append((
            first_id + i,
            maybe(rng.randint(0, 1000), i),
            maybe(round(rng.uniform(-500.0, 5000.0), 2), i),
            maybe(f"{name} #{rng.randint(0, 99999)}", i),
            maybe(rng.random() < 0.5, i),
            maybe(day0 + timedelta(days=rng.randint(0, 2000)), i),
            rng.choice(CATEGORIES),
            maybe(rng.gauss(0.0, 1e3) * 10 ** rng.randint(-6, 3), i),
        ))
    return rows


def read_back(row: tuple) -> tuple:
    """A written row as the connector reads it back."""
    id_, qty, price, name, flag, day, category, score = row

    def dbl(v):
        return None if v is None else float(v)

    return (dbl(id_), dbl(qty), dbl(price), name, flag,
            None if day is None else day.isoformat(), category, dbl(score))


def aggregate(rows: list[tuple]) -> dict:
    """category -> (count, sum of qty), as the pass's group-bys give it."""
    n: Counter = Counter()
    q: dict = {}
    for r in rows:
        n[r[6]] += 1
        if r[1] is not None:
            q[r[6]] = q.get(r[6], 0.0) + float(r[1])
    return {c: (n[c], q.get(c)) for c in n}


def expected_calls(n_base: int, n_range: int, n_append: int) -> dict[str, Counter]:
    def appends(rows):
        return math.ceil(rows / BATCH_ROWS)

    return {
        "write": Counter(metadata_get=1, values_clear=1, values_append=1 + appends(n_base)),
        "bind": Counter(values_get=1, metadata_get=1),
        "scan": Counter(),
        "rescan": Counter(),
        "range": Counter(metadata_get=1, values_clear=1, values_update=1,
                         values_append=appends(n_range)),
        "append": Counter(metadata_get=1, values_append=appends(n_append)),
        "sql": Counter(values_get=1, metadata_get=1),
    }


class SheetsWorkload:
    def __init__(self, h: harness.Harness, server: FakeSheetsProcess, size: str):
        self.h = h
        self.server = server
        self.n = SIZES[size]
        self.n_range = self.n // 10
        self.n_append = self.n // 20
        self.attempted = 0
        self.failed = 0
        rng = random.Random(h.seed)
        self.base = make_rows(rng, self.n)
        self.range_rows = [(f"k{i}", rng.randint(0, 10**6)) for i in range(self.n_range)]
        self.appended = make_rows(rng, self.n_append, first_id=self.n)
        self.expected_calls = expected_calls(self.n, self.n_range, self.n_append)
        self.opts = {"token": TOKEN, "api_base": server.api_base}

    def _fail(self, step: str, why: str) -> None:
        self.failed += 1
        print(f"perfbench: sheets step {step} failed: {why}", file=sys.stderr)

    def run(self) -> dict:
        h = self.h
        self.server.new_spreadsheet(SHEET_ID)
        start = h.start_spark()
        spark = h.spark
        harness.log("session started")
        self.frames = {
            "base": spark.createDataFrame(self.base, SCHEMA),
            "range": spark.createDataFrame(self.range_rows, "rk string, rv long"),
            "append": spark.createDataFrame(self.appended, SCHEMA),
        }
        self.server.take_log()

        warm = self._pass(spark, traced=False)
        setup_s = start.net + warm["net_s"]
        self._check_readback(warm["read_df"])
        harness.log("warm-up and output checks done")

        out = harness.timed_passes(
            h,
            lambda: self._pass(spark, traced=False),
            lambda: self._layers(self._pass(spark, traced=True)),
            MIN_PASSES,
        )
        out["setup_s"] = setup_s
        if h.trace:
            out["layers"]["session.start_s"] = start.wall
        return out

    def _pass(self, spark, traced: bool) -> dict:
        """One closed-loop pass; returns step windows and results."""
        from pyspark.sql import functions as F

        from duckdb_gsheets_spark.sources.gsheets import read_gsheet, sheets_sql, write_gsheet

        tr = self.h.tracer
        opts = self.opts
        windows: dict[str, tuple[float, float]] = {}
        results: dict = {}
        sql = (f"SELECT category, count(*) AS n, sum(qty) AS q FROM '{URL}' "
               "GROUP BY category")
        steps = {
            "write": lambda: write_gsheet(
                self.frames["base"], URL, mode="overwrite", parallel=False, **opts),
            "bind": lambda: read_gsheet(spark, URL, **opts),
            "scan": lambda: results["bind"].count(),
            "rescan": lambda: results["bind"].groupBy("category").agg(
                F.count("*").alias("n"), F.sum("qty").alias("q")).collect(),
            "range": lambda: write_gsheet(
                self.frames["range"], URL, mode="overwrite", parallel=False,
                range=f"J1:K{self.n_range + 1}", overwrite_range="true", **opts),
            "append": lambda: write_gsheet(
                self.frames["append"], URL, mode="append", parallel=False, **opts),
            "sql_bind": lambda: sheets_sql(spark, sql, **opts),
            "sql": lambda: results["sql_bind"].collect(),
        }
        tag = f"sheets{len(tr.spans)}"
        net = 0.0
        with tr.span("pass", "harness") if traced else nullcontext():
            for step, fn in steps.items():
                self.attempted += step != "sql_bind"
                if traced:
                    set_job_group(spark, f"{tag}/{step}")
                with StealClock() as clock, (
                    tr.span(step, "sources.gsheets", step) if traced else nullcontext()
                ):
                    results[step] = fn()
                windows[step] = (clock.t0, clock.t1)
                net += clock.net
        partitions = None
        if traced:
            set_job_group(spark, None)
            partitions = results["bind"].rdd.getNumPartitions()
        log = self.server.take_log()
        self._check(results, windows, log)
        seconds = {s: w[1] - w[0] for s, w in windows.items()}
        return {"wall_s": sum(seconds.values()), "net_s": net, "seconds": seconds,
                "windows": windows, "log": log, "tag": tag,
                "read_df": results["bind"], "partitions": partitions}

    def _check(self, results: dict, windows: dict, log: list[dict]) -> None:
        if results["scan"] != self.n:
            self._fail("scan", f"count {results['scan']} != {self.n}")
        got = {r["category"]: (r["n"], r["q"]) for r in results["rescan"]}
        if got != aggregate(self.base):
            self._fail("rescan", "group-by differs from the written rows")
        got = {r["category"]: (r["n"], r["q"]) for r in results["sql"]}
        if got != aggregate(self.base + self.appended):
            self._fail("sql", "sheets_sql result differs from the sheet's rows")
        calls = _calls_by_step(windows, log)
        if None in calls:
            self._fail("http", f"requests outside every step: {dict(calls[None])}")
        for step, want in self.expected_calls.items():
            have = calls.get(step, Counter())
            if step == "sql":
                have = have + calls.get("sql_bind", Counter())
            if have != want:
                self._fail(step, f"HTTP calls {dict(have)} != {dict(want)}")
        bad = [r for r in log if not 200 <= r["status"] < 300]
        if bad:
            self._fail("http", f"{len(bad)} non-2xx responses")

    def _check_readback(self, read_df) -> None:
        got = [tuple(r) for r in read_df.collect()]
        want = [read_back(r) for r in self.base]
        if got != want:
            diff = next((g, w) for g, w in zip(got + [None] * len(want), want) if g != w)
            self._fail("readback", f"first difference {diff}")

    def _layers(self, p: dict) -> dict:
        """Per-layer metrics of a traced pass; the server's requests are
        joined to the step whose window holds them."""
        tr = self.h.tracer
        spark = self.h.spark
        log, sec, win = p["log"], p["seconds"], p["windows"]
        step_of = _step_of(win)
        parent = {s["op"]: s["id"] for s in tr.spans
                  if s["layer"] == "sources.gsheets" and s["name"] in win}
        for r in log:
            step = step_of(r["start"])
            tr.add(f"http {r['kind']}", "transport", step, parent.get(step),
                   r["start"], r["end"], status=r["status"],
                   bytes_in=r["bytes_in"], bytes_out=r["bytes_out"])
        out = dict.fromkeys(LAYER_KEYS, 0.0)

        def server_s(records):
            return sum(r["end"] - r["start"] for r in records)

        bind_reqs = [r for r in log if step_of(r["start"]) == "bind"]
        out["gsheets.read_bind_s"] = sec["bind"]
        out["gsheets.bind_client_s"] = sec["bind"] - server_s(bind_reqs)
        out["gsheets.scan_s"] = sec["scan"]
        out["gsheets.rescan_s"] = sec["rescan"]
        commit = [r for r in log if step_of(r["start"]) == "write"
                  and r["kind"] in ("values_append", "values_update")]
        if commit:
            out["gsheets.commit_s"] = commit[-1]["end"] - commit[0]["start"]
            out["gsheets.commit_gap_s"] = out["gsheets.commit_s"] - server_s(commit)
        out["gsheets.write_rows_per_s"] = self.n / sec["write"]
        out["gsheets.read_rows_per_s"] = self.n / (sec["bind"] + sec["scan"])
        kinds = Counter(r["kind"] for r in log)
        for kind in ("values_get", "values_append", "values_update", "values_clear",
                     "metadata_get", "batch_update"):
            out[f"http.calls.{kind}"] = kinds[kind]
        sent = sum(r["cells"] for r in log if r["kind"] != "values_get")
        received = sum(r["cells"] for r in log if r["kind"] == "values_get")
        out["http.bytes_out_per_cell"] = sum(r["bytes_in"] for r in log) / max(sent, 1)
        out["http.bytes_in_per_cell"] = sum(r["bytes_out"] for r in log) / max(received, 1)
        out["http.ok_ratio"] = sum(200 <= r["status"] < 300 for r in log) / max(len(log), 1)
        out["http.server_s"] = server_s(log)
        drain_listener(spark)
        for step in ACTIONS:
            jobs = group_jobs(spark, f"{p['tag']}/{step}")
            for key in ("jobs", "tasks", "task_s", "cpu_s", "gc_s",
                        "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
                out[f"exec.{key}"] += jobs[key]
            out["exec.s"] += sec[step]
        out["exec.core_util"] = out["exec.task_s"] / (out["exec.s"] * self.h.cores)
        out["gsheets.scan_partitions"] = p["partitions"]
        out["wall_s"] = p["wall_s"]
        out["net_s"] = p["net_s"]
        return out


def _step_of(windows: dict):
    def find(t: float) -> str | None:
        for step, (a, b) in windows.items():
            if a <= t <= b:
                return step
        return None

    return find


def _calls_by_step(windows: dict, log: list[dict]) -> dict[str, Counter]:
    step_of = _step_of(windows)
    out: dict[str, Counter] = {}
    for r in log:
        out.setdefault(step_of(r["start"]), Counter())[r["kind"]] += 1
    return out


def run(h: harness.Harness, size: str) -> tuple[dict, int, int]:
    with FakeSheetsProcess() as server:
        w = SheetsWorkload(h, server, size)
        out = w.run()
        h.stop_spark()
    return out, w.attempted, w.failed
