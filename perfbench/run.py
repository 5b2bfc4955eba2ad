"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload curation_build --seed 1 \\
        --seconds 12 --trace 0

Workloads (see BENCHMARK.json for why each was chosen, and
perfbench/METRICS.md for every metric):

* ``curation_build``  - LLM-curation operators whose time is in the builders;
* ``sheets_roundtrip`` - write, read, rescan, ranged write, append and
  SQL over a sheet on the benchmark's own fake Sheets server.

Each run is a closed loop, one operation at a time, on
``local[<cores>]``: it generates its inputs (``--seed`` orders the
operations and generates the sheet), starts the session, runs an untimed
warm-up pass that also checks every output, then repeats timed passes
until ``--seconds`` have elapsed and at least four (two for
``sheets_roundtrip``) have run.  With
``--trace 1`` passes run in blocks of untraced, traced, traced, untraced
and the per-layer metrics are reported instead of the end-to-end ones;
spans go to ``.perfbench_run/trace-<workload>-seed<seed>.json``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  The line before
it describes the environment (cores, driver memory, versions, commit).
It works from any working directory; everything it writes stays under
the checkout's ``.perfbench_run``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOADS = ("curation_build", "sheets_roundtrip")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _metric_values(spec: dict, trace: bool, measured: dict) -> dict:
    """Every metric BENCHMARK.json names for this mode, with its unit.
    A per-layer metric of a layer the workload does not reach is 0."""
    out = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        name = m["name"]
        if not trace and name not in measured:
            raise KeyError(f"end-to-end metric {name} was not measured")
        out[name] = {"value": float(measured.get(name, 0.0)), "unit": m["unit"]}
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("bench", "smoke"), default="bench",
                   help="input size; smoke is for the benchmark's own tests")
    args = p.parse_args(argv)

    spec = load_spec()
    from perfbench import harness

    with harness.Harness(args.workload, args.seed, args.seconds, bool(args.trace)) as h:
        if args.workload == "sheets_roundtrip":
            from perfbench import sheets

            out, attempted, failed = sheets.run(h, args.size)
        else:
            from perfbench import curation

            out, attempted, failed = curation.run(h, args.size)
        h.stop_spark()
        harness.log("session stopped")
        measured = {
            "setup_s": out["setup_s"],
            "pass_s": out["pass_s"],
            "mem.peak_rss_mb": h.peak_rss_mb(),
            **out["layers"],
        }
        env = h.environment()
        if args.trace:
            env["trace_file"] = os.path.relpath(
                h.write_trace({"layers": out["layers"]}), ROOT
            )
    env.update(pass_walls=out["pass_walls"], host_steal=out["host_steal"],
               error_rate=failed / attempted)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": _metric_values(spec, bool(args.trace), measured),
    }
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
