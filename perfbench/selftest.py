"""Self-test of the benchmark harness at a tiny fixture size.

    python3 perfbench/selftest.py

Checks two things in one Spark session: every metric named in
``BENCHMARK.json`` is emitted with its unit (end-to-end metrics untraced,
per-layer metrics traced), and an op whose output check fails is counted in
``failed`` and ``fail_ratio`` while the run goes on. The package's cost is
mostly driver time per call, not data, so even tiny inputs take about two
minutes on a 4-core machine.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run

TINY = (400, 6)


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise SystemExit(f"selftest FAILED: {what}")


def check_names(metrics: dict, declared: list[dict], what: str) -> None:
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in metrics.items()}
    expect(got == want, f"{what} metrics differ from BENCHMARK.json: "
           f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
           f"units {[k for k in want if k in got and got[k] != want[k]]}")
    for k, v in metrics.items():
        expect(isinstance(v["value"], (int, float)), f"{k} is not a number")


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(run.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        cores = run.pin_environment(work)
        import workloads

        expect(sorted(workloads.WORKLOADS) == sorted(w["name"] for w in spec["workloads"]),
               "workloads differ from BENCHMARK.json")
        expect([(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_names(),
               "per_layer list differs from run.per_layer_names()")

        class FailingCheck(workloads.DmDownstream):
            """Its first op returns a wrong result at once; later ops are real."""

            ops = 0

            def op(self, tracer):
                FailingCheck.ops += 1
                if FailingCheck.ops == 1:
                    return {"s": 0.0, "dmp_row": {"n": 0}, "n_pcols": 0}
                return super().op(tracer)

        spark = run.start_spark(work, cores)
        try:
            workloads.WORKLOADS["dm_downstream"] = (FailingCheck, *TINY)
            res = run.run(spark, "dm_downstream", 1, 1, False, work)
            check_names(res["metrics"], spec["end_to_end"], "untraced")
            expect(res["failed"] == 1 and not res["correct"], f"injected failure not counted: {res}")
            expect(res["attempted"] == 2, f"run stopped after the failure: {res}")

            workloads.WORKLOADS["pipeline_rerun"] = (workloads.PipelineRerun, *TINY)
            res = run.run(spark, "pipeline_rerun", 1, 0, True, work)
            check_names(res["metrics"], spec["per_layer"], "traced")
            expect(res["correct"] and res["metrics"]["fail_ratio"]["value"] == 0, f"{res}")
            expect(res["metrics"]["plans.run_pipeline.cold.jobs"]["value"] > 0, "no cold jobs traced")
        finally:
            run.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
