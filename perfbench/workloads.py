"""The benchmark's workloads.

Each workload prepares what its ops share once in ``__init__`` (set-up)
and then exposes ``op(tracer)``, which the closed loop in ``run.py``
repeats back to back. Every op first writes a cohort of its own, untimed,
so no two ops of a run compute on the same data and no result of one op
can serve the next. The timed part makes only public package calls, wraps
each in a tracer span, performs the actions a user would (a small collect
or a materialization), and returns its timings. The output checks run after the timed part and
raise ``CheckFailed``; they read results the op already holds or run one
small aggregate of their own, so they never change what the op measures.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import pandas as pd
from pyspark.sql import functions as F

import fixtures
from pylluminator_spark import cnv, dm, ml
from pylluminator_spark import quality_control as qc
from pylluminator_spark.plans.manifest import PipelineManifest, source_fingerprint
from pylluminator_spark.plans.session import MethylSession
from pylluminator_spark.sources.idat import read_idat_files

MB = 1e6
FORMULA = "~ sample_type + sample_number"


class CheckFailed(Exception):
    """An op ran but its output is wrong."""


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def check_betas(betas, n_rows: int) -> None:
    """Betas: probes x samples rows, every non-null beta in [0, 1]."""
    row = betas.agg(
        F.count(F.lit(1)).alias("n"), F.min("beta").alias("lo"), F.max("beta").alias("hi")
    ).collect()[0]
    check(row["n"] == n_rows, f"betas rows {row['n']} != {n_rows}")
    check(0.0 <= row["lo"] <= row["hi"] <= 1.0, f"betas range [{row['lo']}, {row['hi']}]")


def check_qc(rows, samples: list[str], n_probe_types: int) -> None:
    """betas_stats: one rollup row per sample plus one per (sample, probe type)."""
    rollup = sorted(r["sample"] for r in rows if r["probe_type"] is None)
    check(rollup == sorted(samples), f"QC rollup samples {rollup}")
    check(
        len(rows) == len(samples) * (1 + n_probe_types),
        f"QC rows {len(rows)} != {len(samples)} x (1 + {n_probe_types})",
    )


def qc_key(rows) -> list[tuple]:
    return sorted(
        (r["sample"], r["probe_type"] or "", *[r[c] for c in r.__fields__[2:]])
        for r in rows
    )


def same_qc(a, b) -> bool:
    """QC tables equal up to float summation order."""
    ka, kb = qc_key(a), qc_key(b)
    if len(ka) != len(kb):
        return False
    for ra, rb in zip(ka, kb):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12):
                    return False
            elif x != y:
                return False
    return True


class PipelineRerun:
    """``MethylSession.run_pipeline`` against one ``PipelineManifest``.

    One op is a group of three runs over a new IDAT cohort: a cold run
    under the cohort's source fingerprint (every stage is written, except
    the masks root that earlier groups already wrote), a warm rerun (every
    stage is read from the store) and a run that flips
    ``include_out_of_band`` (only ``betas`` is recomputed). Each run starts
    from the raw IDATs as a user's rerun would, and feeds its betas to
    ``betas_stats(...).collect()``.
    """

    KINDS = ("cold", "warm", "param")
    METRICS = (
        [(f"{kind}_s", "s") for kind in KINDS]
        + [("store_mb", "MB")]
        + [(f"plans.manifest.hit_ratio.{kind}", "ratio") for kind in KINDS]
        + [(f"plans.manifest.write_mb.{kind}", "MB") for kind in KINDS]
    )
    N_PROBE_TYPES = 2  # the fixture's 'cg' and 'ctl'

    def __init__(self, spark, work: str, seed: int, n_probes: int, n_samples: int):
        self.spark = spark
        self.fx = fixtures.write_fixture(os.path.join(work, "fixture"), seed, n_probes, n_samples)
        self.manifest = spark.read.parquet(self.fx["manifest"])
        self.store_root = os.path.join(work, "store")
        self.store = PipelineManifest(spark, self.store_root)
        self.n_rows = n_probes * n_samples
        self.groups = 0

    def _run(self, tracer, kind: str, idat_glob: str, fingerprint: str) -> dict:
        before = dir_bytes(self.store_root)
        t0 = time.perf_counter()
        with tracer.span("sources.read_idat_files"):
            idata = read_idat_files(self.spark, idat_glob)
        with tracer.span("plans.from_idata"):
            sess = MethylSession.from_idata(self.spark, idata, self.manifest)
        with tracer.span(f"plans.run_pipeline.{kind}"):
            piped, refs = sess.run_pipeline(
                self.store,
                source_fingerprint=fingerprint,
                include_out_of_band=kind == "param",
            )
        with tracer.span("quality_control.betas_stats"):
            stats = qc.betas_stats(piped.get_betas()).collect()
        wall = time.perf_counter() - t0
        return {
            "kind": kind,
            "s": wall,
            "write_mb": (dir_bytes(self.store_root) - before) / MB,
            "hit_ratio": sum(r.from_cache for r in refs.values()) / len(refs),
            "refs": {name: r.from_cache for name, r in refs.items()},
            "piped": piped,
            "stats": stats,
        }

    def op(self, tracer) -> dict:
        cohort = fixtures.write_cohort(self.fx, self.groups)
        self.groups += 1
        t0 = time.perf_counter()
        # a new cohort is a new source: nothing under its fingerprint is cached yet
        fingerprint = source_fingerprint(cohort["idat_dir"])
        runs = [self._run(tracer, kind, cohort["idat_glob"], fingerprint) for kind in self.KINDS]
        wall = time.perf_counter() - t0
        return {"s": wall, "runs": runs}

    def check(self, result: dict) -> None:
        cold = result["runs"][0]
        for run in result["runs"]:
            kind, refs = run["kind"], run["refs"]
            check_betas(run["piped"].betas_df, self.n_rows)
            check_qc(run["stats"], self.fx["samples"], self.N_PROBE_TYPES)
            if kind == "cold":
                # the masks root is keyed by the masks' content, which a
                # fresh source fingerprint does not change
                reused = {n for n, hit in refs.items() if hit}
                check(reused <= {"masks"}, f"cold run reused {sorted(reused)}")
            elif kind == "warm":
                check(all(refs.values()), f"warm run recomputed {refs}")
                check(same_qc(run["stats"], cold["stats"]), "warm QC differs from cold QC")
            else:
                fresh = [n for n, hit in refs.items() if not hit]
                check(fresh == ["betas"], f"param run recomputed {fresh}")

    def metrics(self, results: list[dict]) -> dict:
        """Per-kind numbers, medians over the ops given."""
        out = {}
        for kind in self.KINDS:
            runs = [r for res in results for r in res["runs"] if r["kind"] == kind]
            out[f"{kind}_s"] = (median(r["s"] for r in runs), "s")
            out[f"plans.manifest.hit_ratio.{kind}"] = (median(r["hit_ratio"] for r in runs), "ratio")
            out[f"plans.manifest.write_mb.{kind}"] = (median(r["write_mb"] for r in runs), "MB")
        out["store_mb"] = out["plans.manifest.write_mb.cold"]
        return out


class DmDownstream:
    """DMP -> DMR -> top DMPs -> CNV -> PCA over prepared betas and signal.

    Each op's cohort writes its betas and signal tables as parquet straight
    from the fixture generator, so the op reads them and does no IDAT or
    preprocessing work.
    """

    METRICS = [("dmp_s", "s"), ("downstream_s", "s")]

    def __init__(self, spark, work: str, seed: int, n_probes: int, n_samples: int):
        self.spark = spark
        fx = self.fx = fixtures.write_fixture(os.path.join(work, "fixture"), seed, n_probes, n_samples)
        manifest = spark.read.parquet(fx["manifest"])
        self.sheet = pd.read_csv(fx["sample_sheet"])
        self.granges = manifest.select("probe_id", "chromosome", "start", "end")
        self.annotation = manifest.select("probe_id", "genes")
        self.seq_length = spark.read.parquet(fx["seq_length"])
        self.case = self.sheet[self.sheet["sample_type"] == "case"]["sample"].tolist()[0]
        self.controls = self.sheet[self.sheet["sample_type"] == "control"]["sample"].tolist()
        self.n_probes = n_probes
        self.cohorts = 0

    def op(self, tracer) -> dict:
        cohort = fixtures.write_cohort(self.fx, self.cohorts)
        self.cohorts += 1
        betas = self.spark.read.parquet(cohort["betas"])
        signal = self.spark.read.parquet(cohort["signal"])
        target = signal.filter(F.col("sample") == self.case)
        norm = signal.filter(F.col("sample").isin(self.controls))
        t0 = time.perf_counter()
        with tracer.span("dm.compute_dmp"):
            dmps, contrasts = dm.compute_dmp(betas, self.sheet, FORMULA)
            dmps = dmps.persist()
            pcols = ["f_pvalue"] + [f"{c}_p_value" for c in contrasts]
            dmp_row = dmps.agg(
                F.count(F.lit(1)).alias("n"),
                *[F.min(F.col(f"`{c}`")).alias(f"lo{i}") for i, c in enumerate(pcols)],
                *[F.max(F.col(f"`{c}`")).alias(f"hi{i}") for i, c in enumerate(pcols)],
            ).collect()[0]
        dmp_s = time.perf_counter() - t0
        with tracer.span("dm.compute_dmr"):
            _segments, dmr = dm.compute_dmr(betas, dmps, self.granges, contrasts)
            dmr_row = dmr.agg(
                F.count(F.lit(1)).alias("n"),
                F.min(F.col(f"`{contrasts[0]}_p_value`")).alias("lo"),
            ).collect()[0]
        with tracer.span("dm.get_top_dm"):
            dm.get_top_dm(dmps, contrasts[0], self.annotation).collect()
        with tracer.span("cnv.cnv_pipeline"):
            _probes, _bins, segments = cnv.cnv_pipeline(target, norm, self.granges, self.seq_length)
            cnv_segments = segments.collect()
        with tracer.span("ml.pca"):
            scores, _ratio = ml.pca(betas, n_components=2)
            pcs = scores.collect()
        wall = time.perf_counter() - t0
        dmps.unpersist()
        return {
            "s": wall,
            "dmp_s": dmp_s,
            "dmp_row": dmp_row,
            "n_pcols": len(pcols),
            "dmr_row": dmr_row,
            "cnv_segments": cnv_segments,
            "pcs": pcs,
        }

    def check(self, result: dict) -> None:
        row, k = result["dmp_row"], result["n_pcols"]
        check(
            # every fixture probe has a beta in every sample
            row["n"] == self.n_probes,
            f"DMP rows {row['n']} != {self.n_probes} probes with values",
        )
        for i in range(k):
            lo, hi = row[f"lo{i}"], row[f"hi{i}"]
            check(lo is not None and 0.0 <= lo <= hi <= 1.0, f"DMP p-values [{lo}, {hi}]")
        dmr = result["dmr_row"]
        check(dmr["n"] > 0, "DMR table is empty")
        check(dmr["lo"] is None or 0.0 <= dmr["lo"] <= 1.0, f"DMR p-value {dmr['lo']}")
        check(len(result["cnv_segments"]) > 0, "CNV segment table is empty")
        check(len(result["pcs"]) == len(self.fx["samples"]), "PCA scores != samples")

    def metrics(self, results: list[dict]) -> dict:
        return {
            "dmp_s": (median(r["dmp_s"] for r in results), "s"),
            "downstream_s": (median(r["s"] for r in results), "s"),
        }


def median(values) -> float:
    """Median, or 0 when every op failed."""
    vals = list(values)
    return statistics.median(vals) if vals else 0.0


# name -> (class, probes, samples). A run's first op costs 20-50 s on
# local[2] of a 4-vCPU machine, about half of it driver time and JIT
# warm-up; 2,000 probes x 6 samples keeps the executor share small, so a
# whole run stays near one minute.
WORKLOADS = {
    "dm_downstream": (DmDownstream, 2_000, 6),
    "pipeline_rerun": (PipelineRerun, 2_000, 6),
}
