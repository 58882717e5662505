"""Distributed Illumina IDAT v3 reader (SURVEY §2.1 S1-S2).

Semantics follow the public IDAT v3 layout (Bioconductor illuminaio
"EncryptedFormat" doc; reference parser at
/root/reference/pylluminator/read_idat.py:180-398): little-endian, magic
``IDAT`` + version 3, a field table of (uint16 section code -> int64 offset)
at byte 16, and sections ILLUMINA_ID (102, int32), STD_DEV (103, uint16),
MEAN (104, uint16), NUM_BEADS (107, uint8), BARCODE (402) / CHIP_TYPE (403)
as 7-bit-varint-length strings, NUM_SNPS_READ (1000, int32). Gzip-compressed
files are handled transparently.

Spark-first design: ``spark.read.format("binaryFile")`` lists and ships the
files to executors; ``mapInPandas`` runs the byte parser per file and emits
long rows ``(sample, channel, illumina_id, mean_value, std_dev, n_beads)``.
One task per file — an IDAT is ~1-8 MB, so at 100 TB this is tens of
thousands of independent tasks with no shuffle. The reference reads files
sequentially on one core (samples.py:1734-1793); here file-level parallelism
is free.
"""

from __future__ import annotations

import gzip
import io
import re
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

IDAT_MAGIC = b"IDAT"
IDAT_VERSION = 3

SEC_ILLUMINA_ID = 102
SEC_STD_DEV = 103
SEC_MEAN = 104
SEC_NUM_BEADS = 107
SEC_RUN_INFO = 300
SEC_BARCODE = 402
SEC_CHIP_TYPE = 403
SEC_NUM_SNPS = 1000

IDATA_SCHEMA = (
    "sample string, channel string, illumina_id int, "
    "mean_value float, std_dev float, n_beads int"
)

# filename convention: <anything><sample_id>_<Grn|Red>.idat[.gz]
_CHANNEL_RE = re.compile(r"_(Grn|Red)\.idat(\.gz)?$", re.IGNORECASE)


def _read_varint_string(buf: io.BytesIO) -> str:
    """Strings are prefixed with a 7-bit varint length (protobuf-style)."""
    length = 0
    shift = 0
    while True:
        (b,) = struct.unpack("<B", buf.read(1))
        length |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return buf.read(length).decode("utf-8", errors="replace")


def parse_idat_bytes(data: bytes) -> dict:
    """Parse one IDAT v3 payload into numpy arrays + metadata.

    Returns dict with keys: illumina_id, mean_value, std_dev, n_beads
    (numpy arrays), barcode, chip_type (str), n_snps (int).
    """
    if data[:2] == b"\x1f\x8b":  # gzip magic
        data = gzip.decompress(data)
    if data[:4] != IDAT_MAGIC:
        raise ValueError("not an IDAT file (bad magic)")
    (version,) = struct.unpack_from("<q", data, 4)
    if version != IDAT_VERSION:
        raise ValueError(f"unsupported IDAT version {version}")
    (n_fields,) = struct.unpack_from("<i", data, 12)
    offsets: dict[int, int] = {}
    pos = 16
    for _ in range(n_fields):
        code, offset = struct.unpack_from("<Hq", data, pos)
        offsets[code] = offset
        pos += 10

    (n_snps,) = struct.unpack_from("<i", data, offsets[SEC_NUM_SNPS])

    def _arr(code: int, dtype: str) -> np.ndarray:
        off = offsets[code]
        return np.frombuffer(data, dtype=dtype, count=n_snps, offset=off)

    out = {
        "illumina_id": _arr(SEC_ILLUMINA_ID, "<i4"),
        "mean_value": _arr(SEC_MEAN, "<u2"),
        "std_dev": _arr(SEC_STD_DEV, "<u2"),
        "n_beads": _arr(SEC_NUM_BEADS, "<u1"),
        "n_snps": n_snps,
        "barcode": None,
        "chip_type": None,
    }
    for key, code in (("barcode", SEC_BARCODE), ("chip_type", SEC_CHIP_TYPE)):
        if code in offsets:
            buf = io.BytesIO(data)
            buf.seek(offsets[code])
            out[key] = _read_varint_string(buf)
    return out


def sample_channel_from_path(path: str) -> tuple[str, str]:
    """Derive (sample, channel) from an IDAT path: channel from the
    ``_Grn/_Red`` suffix, sample from the remaining basename (S2/S5,
    reference samples.py:1770-1789)."""
    basename = path.rsplit("/", 1)[-1]
    m = _CHANNEL_RE.search(basename)
    if not m:
        raise ValueError(f"cannot infer channel from {basename!r}")
    channel = "G" if m.group(1).lower() == "grn" else "R"
    sample = basename[: m.start()]
    return sample, channel


def read_idat_files(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed IDAT scan -> long idata DataFrame. The low-bead null-out
    (reference samples.py:486-499) happens in ``assemble_signal``."""
    binaries = spark.read.format("binaryFile").load(path_glob)

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                sample, channel = sample_channel_from_path(row["path"])
                parsed = parse_idat_bytes(bytes(row["content"]))
                yield pd.DataFrame(
                    {
                        "sample": sample,
                        "channel": channel,
                        "illumina_id": parsed["illumina_id"].astype("int32"),
                        "mean_value": parsed["mean_value"].astype("float32"),
                        "std_dev": parsed["std_dev"].astype("float32"),
                        "n_beads": parsed["n_beads"].astype("int32"),
                    }
                )

    return binaries.select("path", "content").mapInPandas(_parse, IDATA_SCHEMA)


def write_idat(
    path: str,
    illumina_ids: np.ndarray,
    mean_values: np.ndarray,
    std_devs: np.ndarray,
    n_beads: np.ndarray,
    barcode: str = "0000001",
    chip_type: str = "TestChip",
    compress: bool = False,
) -> None:
    """Write a minimal valid IDAT v3 file (test-fixture generator — the
    format is symmetric with :func:`parse_idat_bytes`)."""
    n = len(illumina_ids)
    sections: list[tuple[int, bytes]] = [
        (SEC_NUM_SNPS, struct.pack("<i", n)),
        (SEC_ILLUMINA_ID, np.asarray(illumina_ids, "<i4").tobytes()),
        (SEC_MEAN, np.asarray(mean_values, "<u2").tobytes()),
        (SEC_STD_DEV, np.asarray(std_devs, "<u2").tobytes()),
        (SEC_NUM_BEADS, np.asarray(n_beads, "<u1").tobytes()),
        (SEC_BARCODE, bytes([len(barcode)]) + barcode.encode()),
        (SEC_CHIP_TYPE, bytes([len(chip_type)]) + chip_type.encode()),
    ]
    header_size = 16 + 10 * len(sections)
    body = b""
    table = b""
    offset = header_size
    for code, payload in sections:
        table += struct.pack("<Hq", code, offset)
        body += payload
        offset += len(payload)
    blob = IDAT_MAGIC + struct.pack("<q", IDAT_VERSION) + struct.pack(
        "<i", len(sections)
    ) + table + body
    if compress:
        blob = gzip.compress(blob)
    with open(path, "wb") as fh:
        fh.write(blob)
