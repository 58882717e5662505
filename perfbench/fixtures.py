"""Seeded synthetic inputs: a manifest parquet, sample sheet and
chromosome lengths shared by a run, and any number of cohorts over them.
A cohort is a set of IDAT files plus the semi-wide signal and long betas
tables that the analytics workload starts from.

The probe mix follows ``tests/test_scale_pipeline.py``: about 13 % type I
probes and 0.5 % ``ctl_negative_*`` controls, plus a few dye-bias
normalization controls, placed on chromosomes with start/end/genes. The
program only ever sees the files written here.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pylluminator_spark.sources.idat import write_idat

N_CHROMOSOMES = 8
CHROMOSOME_LENGTH = 4_000_000
N_NORM_CONTROLS = 16


def sample_names(n_samples: int) -> list[str]:
    return [f"S{i:02d}" for i in range(n_samples)]


def _manifest(rng: np.random.Generator, n_probes: int) -> pd.DataFrame:
    idx = np.arange(n_probes)
    is_neg = idx % 200 == 0
    is_norm = (idx % 200 == 100) & (idx // 200 < N_NORM_CONTROLS)
    is_ctl = is_neg | is_norm
    is_type1 = ~is_ctl & (rng.random(n_probes) < 0.13)
    probe_id = np.array([f"cg{i:08d}" for i in idx], dtype=object)
    probe_id[is_neg] = [f"ctl_negative_{i:06d}" for i in idx[is_neg]]
    # dye-bias controls: green 'norm_c', red 'norm_t', alternating
    probe_id[is_norm] = [
        f"ctl_norm_{'c' if k % 2 == 0 else 't'}_{i:06d}"
        for k, i in enumerate(idx[is_norm])
    ]
    # addresses are a seeded permutation so the IDAT order is not probe order
    addr = rng.permutation(2 * n_probes).astype(np.int64) + 10_000_000
    chrom = rng.integers(1, N_CHROMOSOMES + 1, n_probes)
    start = rng.integers(0, CHROMOSOME_LENGTH - 100, n_probes)
    genes = np.array([f"G{g}" for g in rng.integers(0, 2000, n_probes)], dtype=object)
    return pd.DataFrame(
        {
            "probe_id": probe_id,
            "type": np.where(is_type1, "I", "II"),
            "channel": np.where(
                is_type1, np.where(rng.random(n_probes) < 0.5, "G", "R"), None
            ),
            "probe_type": np.where(is_ctl, "ctl", "cg"),
            "mask_info": "",
            "address_a": addr[:n_probes],
            "address_b": np.where(is_type1, addr[n_probes:], -1),
            "chromosome": [str(c) for c in chrom],
            "start": start,
            "end": start + 2,
            "genes": genes,
        }
    ).astype({"address_b": "Int64"}).replace({"address_b": {-1: pd.NA}})


def _intensities(
    rng: np.random.Generator,
    man: pd.DataFrame,
    probe_beta: np.ndarray,
    dye_g: float,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Per-probe (mg, mr, ug, ur) for one sample: in-band signal split by
    beta over a background, out-of-band cells at background level."""
    n = len(man)
    total = rng.lognormal(8.3, 0.5, n)
    bg = lambda: rng.uniform(80, 400, n)  # noqa: E731
    m = total * probe_beta + bg()
    u = total * (1 - probe_beta) + bg()
    t1 = (man["type"] == "I").to_numpy()
    green = (man["channel"] == "G").to_numpy()
    mg = np.where(t1 & ~green, bg(), m) * dye_g
    ug = np.where(t1 & ~green, bg(), u) * dye_g
    mr = np.where(t1 & green, bg(), m)
    ur = np.where(t1 & green, bg(), u)
    neg = man["probe_id"].str.startswith("ctl_negative").to_numpy()
    norm = man["probe_id"].str.startswith("ctl_norm").to_numpy()
    for arr in (mg, mr, ug, ur):
        arr[neg] = rng.uniform(60, 300, neg.sum())
        arr[norm] = rng.uniform(1000, 1600, norm.sum())
    return mg, mr, ug, ur


def write_fixture(root: str, seed: int, n_probes: int, n_samples: int) -> dict:
    """Write the files every cohort shares under ``root``: the manifest,
    the sample sheet and ``seq_length``. Returns their paths and sizes."""
    rng = np.random.default_rng([seed])
    man = _manifest(rng, n_probes)
    os.makedirs(root, exist_ok=True)
    man_path = os.path.join(root, "manifest.parquet")
    man.to_parquet(man_path, index=False)

    names = sample_names(n_samples)
    sheet = pd.DataFrame(
        {
            "sample": names,
            "sample_type": ["control" if i % 2 == 0 else "case" for i in range(n_samples)],
            "sample_number": [i // 2 + 1 for i in range(n_samples)],
        }
    )
    sheet_path = os.path.join(root, "sample_sheet.csv")
    sheet.to_csv(sheet_path, index=False)

    seq = pd.DataFrame(
        {
            "chromosome": [str(c) for c in range(1, N_CHROMOSOMES + 1)],
            "seq_length": CHROMOSOME_LENGTH,
        }
    )
    seq_path = os.path.join(root, "seq_length.parquet")
    seq.to_parquet(seq_path, index=False)
    return {
        "root": root,
        "seed": seed,
        "man": man,
        "sheet": sheet,
        "manifest": man_path,
        "sample_sheet": sheet_path,
        "seq_length": seq_path,
        "samples": names,
        "n_probes": n_probes,
    }


def write_cohort(fx: dict, k: int) -> dict:
    """Write cohort ``k`` of the fixture ``fx``: one IDAT pair per sample,
    plus the same intensities as a signal table and their betas. Each
    cohort has its own probe betas and noise, drawn from ``(seed, k)``, so
    no two ops of a run see the same data."""
    rng = np.random.default_rng([fx["seed"], k + 1])
    man, sheet, n_probes = fx["man"], fx["sheet"], fx["n_probes"]
    root = os.path.join(fx["root"], f"cohort-{k}")
    os.makedirs(os.path.join(root, "idat"), exist_ok=True)

    # bimodal probe betas; a tenth of probes shift in 'case' samples
    base = np.where(rng.random(n_probes) < 0.5, rng.beta(2, 12, n_probes), rng.beta(12, 2, n_probes))
    shifted = rng.random(n_probes) < 0.1
    t1 = (man["type"] == "I").to_numpy()
    green = (man["channel"] == "G").to_numpy()
    keys = man[["probe_id", "type", "channel", "probe_type", "mask_info"]]
    signal, betas = [], []
    addr_a = man["address_a"].to_numpy(np.int64)
    addr_b = man["address_b"].fillna(0).to_numpy(np.int64)
    ids = np.concatenate([addr_a, addr_b[t1]])
    for i, name in enumerate(fx["samples"]):
        beta = base.copy()
        if sheet["sample_type"][i] == "case":
            beta[shifted] = np.clip(1 - beta[shifted], 0.02, 0.98)
        beta = np.clip(beta + rng.normal(0, 0.03, n_probes), 0.0, 1.0)
        mg, mr, ug, ur = _intensities(rng, man, beta, dye_g=rng.uniform(0.8, 1.2))
        signal.append(keys.assign(sample=name, mg=mg, mr=mr, ug=ug, ur=ur))
        # in-band betas: type II reads M green and U red, type I one channel
        m = np.where(t1 & ~green, mr, mg)
        u = np.where(t1 & green, ug, ur)
        betas.append(keys.drop(columns="mask_info").assign(sample=name, beta=m / (m + u + 100)))
        # type II: one address read in both channels (G=M, R=U);
        # type I: address_a = U bead, address_b = M bead
        grn = np.concatenate([np.where(t1, ug, mg), mg[t1]])
        red = np.concatenate([ur, mr[t1]])
        for channel, vals in (("Grn", grn), ("Red", red)):
            write_idat(
                os.path.join(root, "idat", f"{name}_{channel}.idat"),
                ids,
                np.clip(vals, 1, 65535).astype(np.uint16),
                rng.integers(10, 200, len(ids)).astype(np.uint16),
                rng.integers(3, 20, len(ids)).astype(np.uint8),
            )
    signal_path = os.path.join(root, "signal.parquet")
    pd.concat(signal).to_parquet(signal_path, index=False)
    betas_path = os.path.join(root, "betas.parquet")
    pd.concat(betas).to_parquet(betas_path, index=False)
    return {
        "idat_glob": os.path.join(root, "idat", "*.idat"),
        "idat_dir": os.path.join(root, "idat"),
        "signal": signal_path,
        "betas": betas_path,
    }
