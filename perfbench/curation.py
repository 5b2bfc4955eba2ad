"""The ``curation_build`` workload: LLM-curation operators from the
registry, each run from its builder through the final ``noop`` write,
one operation at a time.

Both operators spend most of their time inside the builder (eager
checkpoints and driver collects) and little in final-plan execution, so
a build-side change - fewer materialising jobs, cheaper ones - moves
this workload, while ``sheets_roundtrip``, which has no builder, must
read no change.

Outputs are checked in the untimed warm-up pass: each operator's
collected result must match the row count, dtypes and order-insensitive
value digest of its DuckDB oracle over the same generated tables.
"""

from __future__ import annotations

import hashlib
import itertools
import random
import sys

import duckdb

from perfbench import harness
from perfbench.datagen import generate
from perfbench.harness import (
    StealClock,
    cached_mb,
    drain_listener,
    group_jobs,
    job_group,
    set_job_group,
    sp_seconds,
)

#: Longest-repeated-substring dedup over the suffix spine (17 jobs at
#: this size) and Lloyd's k-means (a checkpoint and a collect per
#: iteration): the two builder-bound operator families.
OPERATIONS = ("dedup_longest_substring", "kmeans_lloyd")

#: Fewest timed passes of an untraced run: a multiple of the number of
#: operations, so each operation leads the pass equally often.
MIN_PASSES = 4

#: Input sizes (documents, embeddings); ``smoke`` is for the tests.
SIZES = {
    "bench": {"n_docs": 500, "n_vecs": 500},
    "smoke": {"n_docs": 200, "n_vecs": 200},
}

#: The parquet inputs are fixed, as the engine's own test data is: the
#: dedup's work depends on how much the documents repeat (it re-extends
#: every suffix whose capped key repeats), so seeded inputs would make
#: the pass time vary with the seed.  The run's seed orders the
#: operations of each pass.
DATA_SEED = 42

TABLES = ("documents", "embeddings")

#: The driver JVM compiles with C1 only.  The builders plan new queries
#: and generate new classes on every pass, so under the default tiered
#: JIT the C2 compiler never settles within a run: pass time fell by
#: about a third over ten passes while the JVM burned two to three cores
#: of four, and the median of three passes ranged over 26% of its median
#: in eleven runs with 1-16% host steal (quartile spread 8%).  With C1
#: alone, passes are about 30% slower but nearly flat after the warm-up
#: pass, and the same median ranged over 11% in seven runs with 2-15%
#: steal (quartile spread 5%), on a shared 4-vCPU virtual machine.  The
#: larger code cache keeps C1 from filling the default 48 MB one.
JIT_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"

#: Per-layer metrics this workload produces, beyond ``op.<name>.*``.
LAYER_SUMS = (
    "catalog.load_s", "catalog.load_jobs",
    "operators.build_s", "operators.build_jobs", "operators.build_job_s",
    "operators.build_driver_s", "operators.cached_mb",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "exec.s", "exec.jobs", "exec.tasks", "exec.task_s", "exec.cpu_s",
    "exec.gc_s", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
    "exec.spill_mb", "udf.python_s",
)


def _digest(pdf) -> tuple:
    """Row count, column names, dtypes and the value digest, with
    tools/parity.py's canonicalisation."""
    from tools.parity import _dtype_map, _frame_to_multiset

    rows = _frame_to_multiset(pdf)
    value_hash = hashlib.sha256(repr(rows).encode()).hexdigest()
    return len(rows), sorted(_dtype_map(pdf).items()), value_hash


def expected_results(data_dir: str, names, queries) -> dict:
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        return {n: _digest(con.execute(queries[n].oracle).df()) for n in names}
    finally:
        con.close()


def _patch_load_table(wrapper):
    """Point every engine module's ``load_table`` name at ``wrapper``;
    returns the original and the modules to restore.  Builders import
    the function by name, so only this reaches the catalog layer from
    outside."""
    from duckdb_gsheets_spark.plans import catalog

    original = catalog.load_table
    undo = []
    for mod in list(sys.modules.values()):
        if (
            mod is not None
            and getattr(mod, "__name__", "").startswith("duckdb_gsheets_spark")
            and getattr(mod, "load_table", None) is original
        ):
            mod.load_table = wrapper
            undo.append(mod)
    return original, undo


class CurationWorkload:
    def __init__(self, h: harness.Harness, size: str):
        self.h = h
        self.size = SIZES[size]
        self.attempted = 0
        self.failed = 0

    def _order(self, pass_no: int) -> list[str]:
        """The seed's order of the operations, rotated by one each pass,
        so every operation leads equally often in MIN_PASSES passes."""
        order = list(OPERATIONS)
        random.Random(self.h.seed).shuffle(order)
        k = pass_no % len(order)
        return order[k:] + order[:k]

    def run(self) -> dict:
        from duckdb_gsheets_spark.operators import all_queries

        h = self.h
        queries = all_queries()
        generate(h.data_dir, DATA_SEED, **self.size)
        harness.log("inputs generated")
        expected = expected_results(h.data_dir, OPERATIONS, queries)
        harness.log("oracle results computed")
        start = h.start_spark(JIT_OPTS)
        spark = h.spark
        harness.log("session started")

        setup_s = start.net
        for name in self._order(0):
            h.clean()
            self.attempted += 1
            try:
                with StealClock() as clock:
                    pdf = queries[name].spark_fn(spark, h.data_dir).toPandas()
            except Exception as ex:  # noqa: BLE001 - a failed op is counted
                self._fail(name, f"{type(ex).__name__}: {ex}")
                continue
            setup_s += clock.net
            got = _digest(pdf)
            if got != expected[name]:
                self._fail(name, f"output {got[:2]} != oracle {expected[name][:2]}")

        harness.log("warm-up and output checks done")
        counter = itertools.count(1)
        out = harness.timed_passes(
            h,
            lambda: self._pass(spark, queries, next(counter)),
            lambda: self._traced_pass(spark, queries, next(counter)),
            MIN_PASSES,
        )
        out["setup_s"] = setup_s
        if h.trace:
            out["layers"]["session.start_s"] = start.wall
        return out

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        print(f"perfbench: {name} failed: {why}", file=sys.stderr)

    def _pass(self, spark, queries, pass_no: int) -> dict:
        wall = net = 0.0
        for name in self._order(pass_no):
            self.h.clean()
            self.attempted += 1
            try:
                with StealClock() as clock:
                    queries[name].spark_fn(spark, self.h.data_dir).write.format(
                        "noop").mode("overwrite").save()
            except Exception as ex:  # noqa: BLE001 - a failed op is counted
                self._fail(name, f"{type(ex).__name__}: {ex}")
                continue
            wall += clock.wall
            net += clock.net
        return {"wall_s": wall, "net_s": net}

    def _traced_pass(self, spark, queries, pass_no: int) -> dict:
        """The same pass with spans, job groups, the Catalyst tracker
        and the Python-UDF profiler; job metrics are read from the
        status store after the pass, outside every clock."""
        tr = self.h.tracer
        sums = dict.fromkeys(LAYER_SUMS, 0.0)
        ops: dict[str, dict] = {}
        load_s: dict[str, float] = {}

        def traced_load(spark_, sf_dir, table):
            outer = job_group(spark_)
            op_name = outer.split("/")[1]
            set_job_group(spark_, outer.rsplit("/", 1)[0] + "/catalog")
            with tr.span("load_table", "plans.catalog", op_name) as sp:
                df = original(spark_, sf_dir, table)
            load_s[op_name] = load_s.get(op_name, 0.0) + sp_seconds(sp)
            set_job_group(spark_, outer)
            return df

        original, patched = _patch_load_table(traced_load)
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        try:
            with tr.span(f"pass {pass_no}", "harness"):
                for name in self._order(pass_no):
                    self.h.clean()
                    spark.profile.clear(type="perf")
                    self.attempted += 1
                    tag = f"p{pass_no}/{name}"
                    try:
                        with StealClock() as clock, tr.span(name, "operation", name) as op_span:
                            set_job_group(spark, tag + "/build")
                            with tr.span("builder", "operators", name) as b_span:
                                df = queries[name].spark_fn(spark, self.h.data_dir)
                            set_job_group(spark, tag + "/exec")
                            with tr.span("noop write", "exec", name) as x_span:
                                df.write.format("noop").mode("overwrite").save()
                    except Exception as ex:  # noqa: BLE001 - a failed op is counted
                        self._fail(name, f"{type(ex).__name__}: {ex}")
                        continue
                    finally:
                        set_job_group(spark, None)
                    op = ops[name] = {
                        "tag": tag,
                        "net_s": clock.net,
                        "build_s": sp_seconds(b_span),
                        "exec_s": sp_seconds(x_span),
                        "cached_mb": cached_mb(spark),
                        "udf_s": sum(
                            s.total_tt
                            for s in spark._profiler_collector._perf_profile_results.values()
                        ),
                    }
                    self._catalyst(df, name, op_span["id"], op)
                    if op["udf_s"]:
                        tr.add("python udfs", "functions", name, op_span["id"],
                               b_span["start"], b_span["start"] + op["udf_s"],
                               aggregate=True)
                    del df
        finally:
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
            for mod in patched:
                mod.load_table = original

        drain_listener(spark)
        for name, op in ops.items():
            build = group_jobs(spark, op["tag"] + "/build")
            catalog = group_jobs(spark, op["tag"] + "/catalog")
            execs = group_jobs(spark, op["tag"] + "/exec")
            build_jobs = build["jobs"] + catalog["jobs"]
            build_job_s = build["job_s"] + catalog["job_s"]
            sums["catalog.load_s"] += load_s.get(name, 0.0)
            sums["catalog.load_jobs"] += catalog["jobs"]
            sums["operators.build_s"] += op["build_s"]
            sums["operators.build_jobs"] += build_jobs
            sums["operators.build_job_s"] += build_job_s
            sums["operators.build_driver_s"] += op["build_s"] - build_job_s
            sums["operators.cached_mb"] += op["cached_mb"]
            for phase in ("analysis", "optimization", "planning"):
                sums[f"catalyst.{phase}_s"] += op.get(phase, 0.0)
            sums["exec.s"] += op["exec_s"]
            for key in ("jobs", "tasks", "task_s", "cpu_s", "gc_s",
                        "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
                sums[f"exec.{key}"] += execs[key]
            sums["udf.python_s"] += op["udf_s"]
            sums[f"op.{name}.wall_s"] = op["build_s"] + op["exec_s"]
            sums[f"op.{name}.build_jobs"] = build_jobs
        sums["exec.core_util"] = (
            sums["exec.task_s"] / (sums["exec.s"] * self.h.cores) if sums["exec.s"] else 0.0
        )
        sums["wall_s"] = sums["operators.build_s"] + sums["exec.s"]
        sums["net_s"] = sum(op["net_s"] for op in ops.values())
        return sums

    def _catalyst(self, df, name: str, parent: int, op: dict) -> None:
        """Catalyst phases of the final plan from its QueryExecution
        tracker; planning is forced here, after the clock stopped."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        tr = self.h.tracer
        for phase in ("analysis", "optimization", "planning"):
            if phases.contains(phase):
                summary = phases.apply(phase)
                op[phase] = summary.durationMs() / 1000.0
                tr.add(phase, "catalyst", name, parent,
                       tr.from_epoch_ms(summary.startTimeMs()),
                       tr.from_epoch_ms(summary.endTimeMs()))


def run(h: harness.Harness, size: str) -> tuple[dict, int, int]:
    w = CurationWorkload(h, size)
    out = w.run()
    return out, w.attempted, w.failed
