"""Sample-sheet sources (SURVEY §2.1 S4-S5).

Re-expresses reference sample_sheet.py:17-142: CSV read with optional
``[Data]`` section-header skip and snake_case column normalization, plus
sheet inference from IDAT filenames. Sample sheets are dimension-sized
(one row per sample) so driver-side pandas preprocessing of the header is
fine; the result becomes a broadcastable Spark DataFrame.
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import DataFrame, SparkSession


def _snake_case(name: str) -> str:
    """CamelCase / spaced headers -> snake_case (reference utils.py:68-84)."""
    s = re.sub(r"[\s\-]+", "_", str(name).strip())
    s = re.sub(r"(.)([A-Z][a-z]+)", r"\1_\2", s)
    s = re.sub(r"([a-z0-9])([A-Z])", r"\1_\2", s)
    return re.sub(r"_+", "_", s).lower()


def read_sample_sheet(
    spark: SparkSession, filepath: str, delimiter: str = ","
) -> DataFrame:
    """Read a sample-sheet CSV, skipping an Illumina ``[Data]`` preamble if
    present, normalizing column names, and standardizing sentrix aliases
    (reference sample_sheet.py:17-73)."""
    raw = pd.read_csv(filepath, delimiter=delimiter)
    data_rows = raw.index[raw.iloc[:, 0] == "[Data]"]
    if len(data_rows) == 1:
        raw = pd.read_csv(
            filepath, delimiter=delimiter, skiprows=int(data_rows[0]) + 2, header=0
        )
    elif len(data_rows) > 1:
        raise ValueError("several [Data] lines found in sample sheet")
    raw.columns = [_snake_case(c) for c in raw.columns]
    # Illumina's ``SentrixBarcode_A`` / ``SentrixPosition_A`` headers
    # snake_case to ``sentrix_barcode_a`` / ``sentrix_position_a``
    raw = raw.rename(
        columns={
            "sentrixposition_a": "sentrix_position",
            "sentrix_position_a": "sentrix_position",
            "sentrixbarcode": "sentrix_id",
            "sentrix_barcode": "sentrix_id",
            "sentrixbarcode_a": "sentrix_id",
            "sentrix_barcode_a": "sentrix_id",
        }
    )
    if "sample_id" not in raw.columns:
        raise ValueError(f"column sample_id not found in {list(raw.columns)}")
    return spark.createDataFrame(raw)


_GSM_PATTERN = re.compile(r"(GSM\d+).(.*).?(Grn|Red)\.idat", re.IGNORECASE)


def sheet_from_idat_paths(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Infer a sample sheet from IDAT filenames (reference
    sample_sheet.py:76-142). Handles the three reference filename layouts:
    ``GSMid_sentrixid_pos_Grn.idat``, ``sentrixid_pos_Grn.idat``, and
    ``GSMid-*-Grn.idat``."""
    rows = []
    for path in paths:
        fname = path.rsplit("/", 1)[-1]
        if not re.search(r"Grn\.idat(\.gz)?$", fname, re.IGNORECASE):
            continue
        parts = fname.split("_")
        if len(parts) == 4 and parts[0].startswith("GSM"):
            rows.append((parts[0], parts[0], parts[1], parts[2]))
        elif len(parts) == 3:
            sid = f"{parts[0]}_{parts[1]}"
            rows.append((sid, sid, parts[0], parts[1]))
        else:
            m = _GSM_PATTERN.match(fname)
            if m:
                name = m[2] if len(m[2]) <= 1 else m[2][:-1]
                rows.append((m[1], name, None, None))
    return spark.createDataFrame(
        rows, "sample_id string, sample_name string, sentrix_id string, sentrix_position string"
    )
