"""Content-addressed pipeline-stage manifests + incremental recompute.

The reference persists whole sessions by pickling
(utils.py:144-183, samples.py:445-462); `MethylSession.save/load`
(plans/session.py) is the per-table parquet replacement. This module is
that idea scaled to PIPELINES: every stage's output parquet is keyed by
a content hash of (stage name, canonicalized params, input keys), so

- re-running an unchanged pipeline reads every stage from parquet and
  recomputes NOTHING;
- changing a parameter or an upstream source invalidates exactly the
  downstream stages whose Merkle chain includes it — untouched branches
  keep their cached outputs;
- the ledger is itself a table (`lineage()`), so provenance questions
  ("which source produced this model's training set, under which
  params?") are one DataFrame query.

Scale design: the ledger holds one small JSON row per stage RUN —
metadata only, never data. Source tables are fingerprinted by their
FILE LISTING (relative path, size, mtime_ns, inode — an O(#files) namenode
listing, never a data scan; 100 TB fingerprints in milliseconds).
Stage outputs are parquet directories named by their key — immutable
once written, safe to share across sessions, garbage-collectable by
key age. A stage's Spark plan is read back from parquet on reuse, so
downstream stages of a cached stage start from a pruned columnar scan
rather than a re-derived lineage.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, MapType, StructField, StructType


def _canon(obj) -> str:
    """Deterministic JSON canonicalization for hashing params."""
    return json.dumps(obj, sort_keys=True, separators=(",", ":"))


def _const_repr(c) -> bytes:
    """Order-independent repr for hashable consts: ``repr`` of a
    frozenset (e.g. the literal behind an ``x in {...}`` test) iterates
    in hash order, which is PYTHONHASHSEED-dependent for strings —
    hashing it raw would churn stage keys across processes (a
    safe-direction miss, but it defeats cross-session cache sharing).
    Sets are therefore hashed as their element reprs, sorted."""
    if isinstance(c, frozenset):
        return ("{" + ",".join(sorted(repr(e) for e in c)) + "}").encode()
    return repr(c).encode()


def _fn_fingerprint(fn) -> str:
    """Deterministic fingerprint of a stage function's OWN CODE:
    bytecode, names, default argument values, and nested code objects,
    recursively. Editing the function body (or a default argument)
    therefore changes its stages' keys and forces recompute — without
    this, a code change would silently reuse stale cached outputs.
    Stable for unchanged source within a Python version (bytecode
    changes across interpreter versions — then caches simply recompute
    once, which is the safe direction).

    SCOPE CONTRACT (what is deliberately NOT fingerprinted):
    - values the function CLOSES OVER (not hashable in general) — pass
      anything that varies through ``params``;
    - OTHER functions the stage function calls (module-level helpers,
      imports): only ``fn``'s own code objects are walked. When a
      called helper's behavior changes, bump ``code_version`` (or fold
      the helper's version into ``params``) to invalidate."""
    import types

    h = hashlib.sha256()

    def walk(code):
        h.update(code.co_code)
        h.update(",".join(code.co_names).encode())
        h.update(",".join(code.co_varnames).encode())
        for c in code.co_consts:
            if isinstance(c, types.CodeType):
                walk(c)
            else:
                h.update(_const_repr(c))

    walk(fn.__code__)
    # default argument values are part of the function's behavior but
    # live outside __code__ — a changed default must invalidate
    for d in fn.__defaults__ or ():
        h.update(b"|d:")
        h.update(_const_repr(d))
    for k in sorted(fn.__kwdefaults__ or {}):
        h.update(f"|kw:{k}:".encode())
        h.update(_const_repr((fn.__kwdefaults__ or {})[k]))
    return h.hexdigest()[:12]


def _read_back_schema(dt):
    """``dt`` as a Parquet read gives it back: every struct field, array
    element and map value nullable, at every depth."""
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _read_back_schema(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_read_back_schema(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _read_back_schema(dt.keyType), _read_back_schema(dt.valueType), True
        )
    return dt


def source_fingerprint(path: str) -> str:
    """Listing-based fingerprint of a source file or directory: relative
    name, size, mtime (ns), and inode of every data file, hashed.
    Metadata-only — no data is read, so this is O(#files) at any data
    volume. Any rewrite, append, or touch changes the fingerprint and
    thereby every downstream stage key."""
    # mtime at NANOSECOND resolution + inode: whole-second mtime would
    # let a same-size rewrite within one second produce an identical
    # fingerprint (stale downstream caches); the inode additionally
    # catches atomic replace-with-same-content-timestamps rewrites
    entries = []
    if os.path.isfile(path):
        st = os.stat(path)
        entries.append(("", st.st_size, st.st_mtime_ns, st.st_ino))
    else:
        for root, _dirs, files in os.walk(path):
            for f in sorted(files):
                if f.startswith(("_", ".")):  # _SUCCESS, .crc side files
                    continue
                full = os.path.join(root, f)
                st = os.stat(full)
                entries.append(
                    (
                        os.path.relpath(full, path),
                        st.st_size,
                        st.st_mtime_ns,
                        st.st_ino,
                    )
                )
    entries.sort()
    return hashlib.sha256(_canon(entries).encode()).hexdigest()[:16]


def _local_file(uri: str) -> str | None:
    """Local filesystem path for a Spark input-file URI, or None for a
    remote scheme (hdfs/s3/...) or a vanished file — remote stores get
    URI-only identity (their listing can't be stat'ed from the driver)."""
    from urllib.parse import unquote, urlparse

    parsed = urlparse(uri)
    if parsed.scheme not in ("", "file"):
        return None
    path = unquote(parsed.path) or uri
    return path if os.path.exists(path) else None


def content_fp_exprs(df: DataFrame) -> list:
    """The two aggregate columns behind ``content_fingerprint`` —
    exposed so a caller can piggyback them on an action it already
    runs (``df.observe`` during a publish write) instead of paying a
    separate aggregation job; feed the observed values to
    ``content_fp_from``."""
    from pyspark.sql import functions as F

    return [
        F.count(F.lit(1)).alias("_n"),
        F.sum(
            F.xxhash64(F.struct(*df.columns)).cast("decimal(38,0)")
        ).alias("_h"),
    ]


def content_fp_from(n, h) -> str:
    """Fingerprint string from the ``content_fp_exprs`` aggregate
    values — identical formatting to ``content_fingerprint``."""
    return hashlib.sha256(f"{n}:{h}".encode()).hexdigest()[:16]


def content_fingerprint(df: DataFrame) -> str:
    """ACTUAL-content fingerprint of a DataFrame: row count + the sum of
    per-row ``xxhash64`` over all columns (order-independent — sum
    commutes — and overflow-safe via decimal accumulation). Costs ONE
    aggregation job over the frame; use it to root a pipeline at an
    in-memory table whose lineage can't identify it (see
    ``frame_source``). Sized for dimension tables — for a fact table
    prefer a listing fingerprint of its backing files."""
    row = df.agg(*content_fp_exprs(df)).collect()[0]
    return content_fp_from(row["_n"], row["_h"])


@dataclass(frozen=True)
class StageRef:
    """Handle to a pipeline stage's output: its content key, its
    DataFrame, and whether this run reused the cached parquet."""

    name: str
    key: str
    df: DataFrame
    path: str | None
    from_cache: bool


class PipelineManifest:
    """A content-addressed stage store rooted at ``root``.

    >>> m = PipelineManifest(spark, "/data/pipeline")
    >>> docs = m.source("docs", "/data/raw/documents.parquet")
    >>> clean = m.stage("clean", clean_fn, [docs], {"min_len": 50})
    >>> stats = m.stage("stats", stats_fn, [clean], {})
    second run: every .stage() call returns from_cache=True instantly.

    A stage's parquet lives at ``<root>/<key>``. Every lookup (``stage``,
    ``frame_source``, ``by_key``, ``entries_named``, ``gc``) derives that
    path from ``root`` and goes through one publish-or-reuse path; the
    ledger's ``path`` field is informational. A store moved or copied
    to a new root therefore keeps its hits and its chain walks.

    CONCURRENCY: two runs sharing one root (e.g. two increments
    curating against the same corpus) are safe at the storage layer —
    stage parquet publishes via write-to-temp + atomic rename (the
    same-key loser discards its copy and reads the winner's), and
    ledger appends are single O_APPEND write syscalls (line-atomic;
    a torn tail from a killed writer is skipped on reload). The runs'
    RESULTS remain order-dependent as documented in curate_increment —
    whichever generation lands first is visible to later chain walks.
    """

    _LEDGER = "ledger.jsonl"

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._entries: dict[str, dict] = {}
        ledger = os.path.join(root, self._LEDGER)
        if os.path.exists(ledger):
            with open(ledger) as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    try:
                        e = json.loads(line)
                    except ValueError:
                        # torn tail line (writer killed mid-append):
                        # its stage either has no parquet (recomputed
                        # cleanly) or gets re-appended on next reuse —
                        # never worth failing the whole store over
                        continue
                    self._entries[e["key"]] = e

    # -- sources ---------------------------------------------------------

    def source(self, name: str, path: str, fmt: str = "parquet") -> StageRef:
        """Register an external source table. Its key is the listing
        fingerprint, so upstream data changes propagate downstream."""
        key = f"src-{source_fingerprint(path)}"
        reader = getattr(self.spark.read, fmt)
        return StageRef(
            name=name, key=key, df=reader(path), path=path, from_cache=True
        )

    def frame_source(
        self,
        name: str,
        df: DataFrame,
        fingerprint: str | None = None,
        meta: dict | None = None,
        meta_fn=None,
    ) -> StageRef:
        """Root a pipeline at a LIVE DataFrame (no backing path): the
        frame is materialized into the store once under ``fingerprint``
        and read back from parquet ever after — so downstream stages of
        a reused root start from a pruned columnar scan, not the
        original lineage.

        ``fingerprint`` is the caller's identity for the frame's
        CONTENT (e.g. ``source_fingerprint`` of the raw input
        directory, or ``content_fingerprint`` for a small in-memory
        table). When omitted the default is derived soundly by shape:

        - file-backed lineage (``df.inputFiles()`` non-empty): hash of
          the analyzed plan (captures filters/projections stacked on
          the scan) PLUS the size/mtime_ns/inode listing of every input
          file — so an in-place rewrite under the same path changes the
          key (the hazard ``source_fingerprint`` is hardened against).
          Plan expression-ids restart per JVM, so a new session may
          re-materialize rather than reuse — the safe direction.
        - no input files (LocalRelation / pure in-memory): the plan
          string contains NO data, only schema + expression ids, so two
          sessions could collide on the same key for DIFFERENT data.
          The default is therefore ``content_fingerprint`` (one
          aggregation job over the frame — pass an explicit fingerprint
          to skip it for large frames).

        ``meta`` attaches caller metadata (small JSON-safe dict) to the
        ledger entry on FIRST materialization — e.g. a content
        fingerprint recorded for later same-content-different-key
        detection (``curate_increment``). Ignored on cache hits (the
        entry already exists). ``meta_fn`` is the deferred form: a
        zero-arg callable evaluated AFTER the publish write completes —
        the hook for metadata observed DURING the write (``df.observe``
        aggregates), which costs no extra job. Like ``meta`` it is
        skipped entirely on cache hits."""
        if fingerprint is None:
            plan = df._jdf.queryExecution().analyzed().toString()
            files = sorted(df.inputFiles())
            if files:
                h = hashlib.sha256(plan.encode())
                for uri in files:
                    h.update(b"|f:" + uri.encode())
                    local = _local_file(uri)
                    if local is not None:
                        st = os.stat(local)
                        h.update(
                            f":{st.st_size}:{st.st_mtime_ns}:{st.st_ino}"
                            .encode()
                        )
                fingerprint = h.hexdigest()[:16]
            else:
                fingerprint = content_fingerprint(df)
        return self._materialize(
            f"frm-{fingerprint}", name, [], {}, lambda: df, meta, meta_fn
        )

    # -- stages ----------------------------------------------------------

    def stage_key(
        self,
        name: str,
        inputs: list[StageRef],
        params: dict,
        code_version: str = "",
    ) -> str:
        payload = _canon(
            {
                "name": name,
                "inputs": [i.key for i in inputs],
                "params": params,
                "code": code_version,
            }
        )
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    def stage(
        self,
        name: str,
        fn,
        inputs: list[StageRef],
        params: dict | None = None,
        code_version: str | None = None,
    ) -> StageRef:
        """Run ``fn(spark, *input_dfs, **params)`` — or skip it entirely
        if an output with the same content key already exists. The
        returned DataFrame always reads from the stage's parquet, so
        downstream plans start from a columnar scan either way.

        The key includes a fingerprint of ``fn``'s CODE (bytecode walk —
        see ``_fn_fingerprint``), so editing the stage function
        invalidates its cache; pass ``code_version`` explicitly to pin
        it (e.g. a semantic version, when bytecode-level sensitivity is
        unwanted). Values ``fn`` closes over are NOT fingerprinted —
        route anything that varies through ``params``."""
        params = params or {}
        cv = code_version if code_version is not None else _fn_fingerprint(fn)
        return self._materialize(
            self.stage_key(name, inputs, params, cv),
            name,
            inputs,
            params,
            lambda: fn(self.spark, *[i.df for i in inputs], **params),
        )

    # -- publish-or-reuse --------------------------------------------------

    def _published(self, key: str) -> bool:
        """True when ``key`` is in the ledger and its parquet is complete
        under this root. Paths derive from ``self.root``, never from the
        ledger, so a moved or copied store keeps working."""
        return key in self._entries and os.path.exists(
            os.path.join(self.root, key, "_SUCCESS")
        )

    def _ref(self, name: str, key: str, from_cache: bool) -> StageRef:
        """StageRef over the stage parquet of ``key`` under this root.
        The schema recorded in the ledger entry spares the read its
        schema-inference job while the parquet's file listing is the one
        recorded with it; an entry without them (written before schemas
        were recorded) or a parquet rewritten in place falls back to
        inference."""
        out_dir = os.path.join(self.root, key)
        reader = self.spark.read
        e = self._entries.get(key, {})
        if "schema" in e and e.get("listing") == source_fingerprint(out_dir):
            reader = reader.schema(StructType.fromJson(json.loads(e["schema"])))
        return StageRef(
            name=name,
            key=key,
            df=reader.parquet(out_dir),
            path=out_dir,
            from_cache=from_cache,
        )

    def _materialize(
        self,
        key: str,
        name: str,
        inputs: list[StageRef],
        params: dict,
        compute,
        meta: dict | None = None,
        meta_fn=None,
    ) -> StageRef:
        """Reuse the output under ``key`` or publish ``compute()`` there
        and record it in the ledger — the one path behind ``stage`` and
        ``frame_source``. ``meta``/``meta_fn`` as in ``frame_source``."""
        if self._published(key):
            return self._ref(name, key, True)
        out_dir = os.path.join(self.root, key)
        df = compute()
        won = self._publish(df, out_dir)
        if meta_fn is not None:
            # evaluated post-publish: observed write-time metrics exist
            meta = {**(meta or {}), **(meta_fn() or {})}
        entry = {
            "key": key,
            "name": name,
            "inputs": [i.key for i in inputs],
            "input_names": [i.name for i in inputs],
            "params": params,
            "path": out_dir,
            "written_at": time.time(),
            "schema": _read_back_schema(df.schema).json(),
            "listing": source_fingerprint(out_dir),
        }
        if meta:
            entry["meta"] = meta
        if won or key not in self._entries:
            self._append(entry)
        return self._ref(name, key, not won)

    def _publish(self, df: DataFrame, out_dir: str) -> bool:
        """Materialize ``df`` at ``out_dir`` atomically: write to a
        process-unique sibling temp dir, then ``os.rename`` into place
        — so a CONCURRENT run materializing the same content key never
        interleaves files with this one (the loser's rename fails, it
        discards its temp copy and reads the winner's — same content
        key, same bytes semantically). A leftover dir WITHOUT a
        ``_SUCCESS`` marker (a run killed mid-write, before this
        rename discipline's temp dir even — or a torn temp) is swept
        first. Returns False when another run won the rename. Local
        filesystem semantics (POSIX atomic rename); an object-store
        root would need a conditional-put equivalent."""
        import shutil
        import uuid

        marker = os.path.join(out_dir, "_SUCCESS")
        if os.path.isdir(out_dir) and not os.path.exists(marker):
            shutil.rmtree(out_dir, ignore_errors=True)
        tmp = f"{out_dir}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        try:
            df.write.mode("overwrite").parquet(tmp)
            os.rename(tmp, out_dir)
            return True
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            return False

    def _append(self, entry: dict) -> None:
        self._entries[entry["key"]] = entry
        # one O_APPEND write syscall per line: concurrent appenders
        # (two increments curating against the same root) interleave
        # at line granularity, never inside a line; duplicate rows for
        # a key are harmless (reload is last-wins on identical content)
        line = (json.dumps(entry) + "\n").encode()
        fd = os.open(
            os.path.join(self.root, self._LEDGER),
            os.O_WRONLY | os.O_CREAT | os.O_APPEND,
            0o644,
        )
        try:
            os.write(fd, line)
        finally:
            os.close(fd)

    def entry(self, key: str) -> dict | None:
        """The ledger row for ``key`` (name, inputs, params, path), or
        None — the raw metadata a chain walk needs."""
        return self._entries.get(key)

    def by_key(self, key: str) -> StageRef | None:
        """StageRef for an already-materialized stage by its content
        key, or None when the key is unknown or its parquet is gone."""
        if not self._published(key):
            return None
        return self._ref(self._entries[key].get("name", ""), key, True)

    def entries_named(self, name: str) -> list[dict]:
        """All ledger rows named ``name`` whose parquet still exists,
        oldest-first by written_at — the full history (a cached re-run
        appends nothing, so each row is one distinct materialization)."""
        out = [
            e
            for e in self._entries.values()
            if e.get("name") == name and self._published(e["key"])
        ]
        out.sort(key=lambda e: e.get("written_at", 0))
        return out

    # -- introspection ---------------------------------------------------

    def lineage(self) -> DataFrame:
        """The ledger as a DataFrame: one row per materialized stage,
        with its key, parent keys, and params — provenance as a table."""
        rows = [
            (
                e["key"],
                e["name"],
                e["inputs"],
                e["input_names"],
                _canon(e["params"]),
                e["path"],
            )
            for e in self._entries.values()
        ]
        return self.spark.createDataFrame(
            rows,
            "key string, name string, inputs array<string>, "
            "input_names array<string>, params string, path string",
        )

    def ancestors(self, key: str) -> list[str]:
        """Transitive input keys of a stage (provenance chain), oldest
        last. Source keys terminate the walk."""
        seen: list[str] = []
        frontier = [key]
        while frontier:
            k = frontier.pop(0)
            e = self._entries.get(k)
            if e is None:
                continue
            for parent in e["inputs"]:
                if parent not in seen:
                    seen.append(parent)
                    frontier.append(parent)
        return seen

    def gc(self, keep_keys: set[str]) -> list[str]:
        """Remove cached stage outputs whose key is not in
        ``keep_keys`` (nor an ancestor of one). Returns removed keys.
        Ledger entries for removed outputs are dropped so a later
        identical stage recomputes cleanly."""
        import shutil

        keep = set(keep_keys)
        for k in list(keep_keys):
            keep.update(self.ancestors(k))
        removed = []
        for k in list(self._entries):
            if k not in keep:
                shutil.rmtree(os.path.join(self.root, k), ignore_errors=True)
                del self._entries[k]
                removed.append(k)
        with open(os.path.join(self.root, self._LEDGER), "w") as fh:
            for e in self._entries.values():
                fh.write(json.dumps(e) + "\n")
        return removed
