"""MethylSession — the engine's replacement for the reference's mutable
``Samples`` object (reference samples.py:23-50).

The reference mutates ``_signal_df`` in place and invalidates caches by hand
(``reset_betas`` samples.py:1116-1120). Here every transform returns a NEW
session snapshot holding immutable DataFrames; Spark lineage makes
invalidation moot, and ``.persist()`` marks the two reuse points (the
preprocessed signal and betas).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pylluminator_spark.functions.methyl import beta_expr, meth_unmeth_exprs
from pylluminator_spark.operators import masks as mask_ops
from pylluminator_spark.operators.selectors import min_beads_nullify

SIGNAL_KEY_COLS = ("probe_id", "type", "channel", "probe_type", "mask_info")


# ----------------------------------------------------------------------
# Manifest pipeline stages (MethylSession.run_pipeline). MODULE-LEVEL by
# design: PipelineManifest fingerprints a stage function's own code and
# defaults (plans/manifest.py _fn_fingerprint), and these close over
# NOTHING — every knob flows through ``params`` so the content keys are
# complete. Each mirrors one reference tutorial step (SURVEY §3.2).
# ----------------------------------------------------------------------


def _stage_infer_channel(spark, sig, switch_failed=False):
    from pylluminator_spark import preprocessing as pp

    out, _summary, _failed = pp.infer_type1_channel(sig, switch_failed)
    return out


def _stage_dye_bias(spark, sig, mode="linear"):
    from pylluminator_spark import preprocessing as pp

    if mode == "linear":
        return pp.dye_bias_correction(sig)
    if mode == "nl":
        return pp.dye_bias_correction_nl(sig)
    raise ValueError(f"dye_bias must be 'linear' or 'nl': {mode!r}")


def _stage_noob(spark, sig, masks, use_negative_controls=True, offset=15.0):
    from pylluminator_spark import preprocessing as pp

    return pp.noob_background_correction(
        sig, masks, use_negative_controls, offset
    )


def _stage_poobah_mask(spark, sig, masks, threshold=0.05):
    from pylluminator_spark import preprocessing as pp

    _pvals, pb_mask = pp.poobah(sig, masks, threshold=threshold)
    return pb_mask


def _stage_min_beads_masks(spark, sig, min_beads=1):
    return min_beads_masks(sig, min_beads)


def _stage_betas(spark, sig, include_out_of_band=False):
    meth, unmeth = meth_unmeth_exprs(include_out_of_band)
    return sig.select(
        "sample",
        "probe_id",
        "type",
        "channel",
        "probe_type",
        beta_expr(meth, unmeth).alias("beta"),
    )


def assemble_signal(
    idata: DataFrame,
    manifest: DataFrame,
    min_beads: int = 1,
) -> DataFrame:
    """Build the semi-wide signal fact table from long idata + manifest
    (reference ``add_annotation_info`` samples.py:468-570).

    Steps (each declarative — Catalyst prunes/pushes down):
    1. low-bead null-out (``n_beads < min_beads`` -> NULL, samples.py:494)
    2. manifest address explode: type I probes have two addresses
       (address_a=U, address_b=M, samples.py:541-542), type II one
    3. inner broadcast join idata <-> addresses on illumina_id
       (samples.py:525-528; the manifest is dimension-sized)
    4. methylation-state derivation (samples.py:538-542), dropping '?'
    5. pivot to one row per (sample, probe) with mg/mr/ug/ur columns —
       a single hash aggregation, not a pandas pivot
    """
    data = min_beads_nullify(idata, min_beads) if min_beads > 1 else idata

    addresses = (
        manifest.select(
            "probe_id",
            "type",
            "channel",
            "probe_type",
            F.coalesce(F.col("mask_info"), F.lit("")).alias("mask_info"),
            F.explode(
                F.array(
                    F.struct(
                        F.col("address_a").alias("illumina_id"),
                        F.lit("A").alias("address_kind"),
                    ),
                    F.struct(
                        F.col("address_b").alias("illumina_id"),
                        F.lit("B").alias("address_kind"),
                    ),
                )
            ).alias("addr"),
        )
        .select(
            "probe_id",
            "type",
            "channel",
            "probe_type",
            "mask_info",
            F.col("addr.illumina_id").alias("illumina_id"),
            F.col("addr.address_kind").alias("address_kind"),
        )
        .filter(F.col("illumina_id").isNotNull())
    )

    joined = data.withColumnRenamed("channel", "signal_channel").join(
        F.broadcast(addresses), "illumina_id", "inner"
    )

    ms = (
        F.when((F.col("type") == "II") & (F.col("signal_channel") == "G"), "M")
        .when((F.col("type") == "II") & (F.col("signal_channel") == "R"), "U")
        .when((F.col("type") == "I") & (F.col("address_kind") == "B"), "M")
        .when((F.col("type") == "I") & (F.col("address_kind") == "A"), "U")
        .otherwise("?")
    )
    typed = joined.withColumn("meth_state", ms).filter(F.col("meth_state") != "?")

    cell = lambda sc, st: F.max(  # noqa: E731 — exactly one row per cell
        F.when(
            (F.col("signal_channel") == sc) & (F.col("meth_state") == st),
            F.col("mean_value"),
        )
    )
    return typed.groupBy("sample", *SIGNAL_KEY_COLS).agg(
        cell("G", "M").alias("mg"),
        cell("R", "M").alias("mr"),
        cell("G", "U").alias("ug"),
        cell("R", "U").alias("ur"),
    )


def min_beads_masks(signal: DataFrame, min_beads: int) -> DataFrame:
    """Per-sample min-beads masks: probes whose (G,M) or (R,U) cell is NULL
    (reference samples.py:568-570)."""
    return (
        signal.filter(F.col("mg").isNull() | F.col("ur").isNull())
        .select(
            F.lit(f"min_beads_{min_beads}").alias("mask_name"),
            F.col("sample"),
            F.col("probe_id"),
        )
        .distinct()
    )


@dataclass(frozen=True)
class MethylSession:
    """Immutable snapshot of an analysis: signal + dimensions + masks."""

    spark: SparkSession
    signal: DataFrame
    sample_sheet: DataFrame | None = None
    manifest: DataFrame | None = None
    masks: DataFrame | None = None
    min_beads: int = 1
    array_type: str | None = None
    # Precalculated UNmasked betas (reference ``_betas``, samples.py:50);
    # set by ``calculate_betas``, served by ``betas``/``get_betas`` with
    # masking applied on top. None until calculated.
    betas_df: DataFrame | None = None

    @classmethod
    def from_idata(
        cls,
        spark: SparkSession,
        idata: DataFrame,
        manifest: DataFrame,
        sample_sheet: DataFrame | None = None,
        min_beads: int = 1,
        detect_array_type: bool = False,
    ) -> "MethylSession":
        """``detect_array_type=True`` infers the Illumina array generation
        from per-sample probe counts (reference annotations.py:360-397 via
        read_samples); it costs one count-distinct aggregation over idata,
        so it is opt-in."""
        signal = assemble_signal(idata, manifest, min_beads)
        masks = min_beads_masks(signal, min_beads)
        array_type = None
        if detect_array_type:
            from pylluminator_spark.annotations import consensus_array_type

            array_type = consensus_array_type(idata)
        return cls(
            spark=spark,
            signal=signal,
            sample_sheet=sample_sheet,
            manifest=manifest,
            masks=masks,
            min_beads=min_beads,
            array_type=array_type,
        )

    # -- masks ------------------------------------------------------------
    def with_signal(self, signal: DataFrame) -> "MethylSession":
        return replace(self, signal=signal)

    def add_mask(
        self, probes: DataFrame, mask_name: str, sample: str | None = None
    ) -> "MethylSession":
        masks = self.masks
        if masks is None:
            masks = mask_ops.empty_masks(self.spark)
        return replace(self, masks=mask_ops.add_mask(masks, probes, mask_name, sample))

    def masked_signal(self) -> DataFrame:
        if self.masks is None:
            return self.signal
        return mask_ops.apply_mask_nullout(self.signal, self.masks)

    # -- betas ------------------------------------------------------------
    def betas(
        self, include_out_of_band: bool = False, apply_mask: bool = True
    ) -> DataFrame:
        """Long betas table (sample, probe_id, beta) — reference
        ``calculate_betas`` samples.py:1074-1108 + ``get_betas`` 1129-1198.

        When ``calculate_betas`` has materialized a betas reuse point, it
        is served directly (masking applied on top, like the reference's
        ``get_betas`` over the stored ``_betas``); ``include_out_of_band``
        is then fixed at calculation time, as in the reference.
        """
        if self.betas_df is not None:
            b = self.betas_df
            if apply_mask and self.masks is not None:
                b = mask_ops.apply_mask_nullout(b, self.masks)
            return b
        return _stage_betas(self.spark, self._sig(apply_mask), include_out_of_band)

    def calculate_betas(
        self, include_out_of_band: bool = False
    ) -> "MethylSession":
        """Materialize the betas reuse point (reference ``calculate_betas``
        samples.py:1074-1108 stores ``self._betas``): compute UNmasked betas
        once, persist them, and carry them on the new session — the
        immutable twin of the reference's in-place mutation. ``get_betas``
        then serves them with masking applied on top."""
        b = _stage_betas(self.spark, self.signal, include_out_of_band).persist()
        return replace(self, betas_df=b)

    def has_betas(self) -> bool:
        """True once ``calculate_betas`` has materialized the betas reuse
        point (reference samples.py:1122-1127)."""
        return self.betas_df is not None

    def persist(self) -> "MethylSession":
        """Mark the signal as a reuse point (replaces the reference's manual
        ``sigdf=`` threading, samples.py:129-136)."""
        return replace(self, signal=self.signal.persist())

    # ------------------------------------------------------------------
    # Reference-parity facade — one method per public ``Samples`` method
    # (reference samples.py), delegating to the functional operator layer
    # so a reference user can switch call-for-call. Getters return Spark
    # DataFrames (long or semi-wide, never pandas); transforms return a
    # NEW session (immutable snapshots, unlike the reference's in-place
    # mutation).
    # ------------------------------------------------------------------

    def _sig(self, apply_mask: bool = True) -> DataFrame:
        return self.masked_signal() if apply_mask else self.signal

    def _long(self, apply_mask: bool = True) -> DataFrame:
        from pylluminator_spark.operators import selectors as sel

        return sel.to_long(self._sig(apply_mask))

    # -- dimension helpers (reference samples.py:77-121; dimension-sized
    #    collects only) --------------------------------------------------
    def sample_labels(self) -> list[str]:
        return sorted(
            r["sample"] for r in self.signal.select("sample").distinct().collect()
        )

    def nb_samples(self) -> int:
        return self.signal.select("sample").distinct().count()

    def nb_probes(self) -> int:
        return self.signal.select("probe_id").distinct().count()

    def probe_ids(self) -> list[str]:
        """Sorted distinct probe ids (reference ``probe_ids`` property,
        samples.py:114-120). Dimension-sized collect — the probe universe
        is manifest-bounded (~1M ids), never fact-table-sized."""
        return sorted(
            r["probe_id"]
            for r in self.signal.select("probe_id").distinct().collect()
        )

    # -- probe-subset getters (reference samples.py:123-419) -------------
    def type1(self, apply_mask: bool = True) -> DataFrame:
        from pylluminator_spark.operators import selectors as sel

        return sel.type1(self._sig(apply_mask))

    def type2(self, apply_mask: bool = True) -> DataFrame:
        from pylluminator_spark.operators import selectors as sel

        return sel.type2(self._sig(apply_mask))

    def type1_green(self, apply_mask: bool = True) -> DataFrame:
        from pylluminator_spark.operators import selectors as sel

        return sel.type1_green(self._sig(apply_mask))

    def type1_red(self, apply_mask: bool = True) -> DataFrame:
        from pylluminator_spark.operators import selectors as sel

        return sel.type1_red(self._sig(apply_mask))

    def oob(self, apply_mask: bool = True) -> DataFrame:
        from pylluminator_spark.operators import selectors as sel

        return sel.oob(self._long(apply_mask))

    def oob_red(self, apply_mask: bool = True) -> DataFrame:
        from pylluminator_spark.operators import selectors as sel

        return sel.oob_red(self._long(apply_mask))

    def oob_green(self, apply_mask: bool = True) -> DataFrame:
        from pylluminator_spark.operators import selectors as sel

        return sel.oob_green(self._long(apply_mask))

    def ib(self, apply_mask: bool = True) -> DataFrame:
        from pylluminator_spark.operators import selectors as sel

        return sel.ib(self._long(apply_mask))

    def ib_red(self, apply_mask: bool = True) -> DataFrame:
        # in-band measurements READ on the red channel (reference
        # samples.py:208-223): type I red probes + type II red cells
        return self.ib(apply_mask).filter(F.col("signal_channel") == "R")

    def ib_green(self, apply_mask: bool = True) -> DataFrame:
        return self.ib(apply_mask).filter(F.col("signal_channel") == "G")

    def meth(self, apply_mask: bool = True) -> DataFrame:
        from pylluminator_spark.operators import selectors as sel

        return sel.meth(self._long(apply_mask))

    def unmeth(self, apply_mask: bool = True) -> DataFrame:
        from pylluminator_spark.operators import selectors as sel

        return sel.unmeth(self._long(apply_mask))

    def cg_probes(self, apply_mask: bool = True) -> DataFrame:
        from pylluminator_spark.operators import selectors as sel

        return sel.cg(self._sig(apply_mask))

    def ch_probes(self, apply_mask: bool = True) -> DataFrame:
        from pylluminator_spark.operators import selectors as sel

        return sel.ch(self._sig(apply_mask))

    def snp_probes(self, apply_mask: bool = True) -> DataFrame:
        from pylluminator_spark.operators import selectors as sel

        return sel.snp(self._sig(apply_mask))

    def get_probes_with_probe_type(
        self, probe_type: str, apply_mask: bool = True
    ) -> DataFrame:
        from pylluminator_spark.operators import selectors as sel

        return sel.probe_type_in(self._sig(apply_mask), probe_type)

    def get_probes(self, probe_ids, apply_mask: bool = True) -> DataFrame:
        from pylluminator_spark.operators import selectors as sel

        if isinstance(probe_ids, str):
            probe_ids = [probe_ids]
        return sel.get_probes(self._sig(apply_mask), probe_ids)

    def get_signal_df(self, apply_mask: bool = True) -> DataFrame:
        return self._sig(apply_mask)

    # -- control probes (reference samples.py:837-938) --------------------
    def controls(
        self, apply_mask: bool = True, pattern: str | None = None
    ) -> DataFrame:
        from pylluminator_spark.operators import selectors as sel

        return sel.controls(self._sig(apply_mask), pattern)

    def get_normalization_controls(
        self, apply_mask: bool = True, average: bool = False
    ) -> DataFrame:
        from pylluminator_spark.operators import selectors as sel

        ctl = sel.normalization_controls(self._sig(apply_mask))
        if not average:
            return ctl
        # reference samples.py:909-911: {'G': mean of (G,'M') i.e. mg over
        # green-pattern controls, 'R': mean of (R,'U') i.e. ur over
        # red-pattern controls}, per sample.  The grouping key is the
        # control label the selector adds ('control_channel'), NOT the
        # manifest design 'channel' — which is NULL for type-II controls.
        return ctl.groupBy("sample", "control_channel").agg(
            F.avg(
                F.when(F.col("control_channel") == "G", F.col("mg")).otherwise(
                    F.col("ur")
                )
            ).alias("mean_intensity")
        )

    def get_negative_controls(self, apply_mask: bool = True) -> DataFrame:
        from pylluminator_spark import preprocessing as pp

        return pp.negative_controls(self._sig(apply_mask))

    # -- intensity / beta getters (reference samples.py:1017-1255) --------
    def get_mean_ib_intensity(self, apply_mask: bool = True) -> DataFrame:
        from pylluminator_spark import preprocessing as pp

        return pp.mean_ib_intensity(self._sig(apply_mask))

    def get_total_ib_intensity(self, apply_mask: bool = True) -> DataFrame:
        from pylluminator_spark import preprocessing as pp

        return pp.total_ib_intensity(self._sig(apply_mask))

    def get_betas(
        self,
        drop_na: bool = False,
        include_out_of_band: bool = False,
        apply_mask: bool = True,
    ) -> DataFrame:
        b = self.betas(include_out_of_band, apply_mask)
        return b.na.drop(subset=["beta"]) if drop_na else b

    def get_m_values(
        self, drop_na: bool = False, apply_mask: bool = True
    ) -> DataFrame:
        from pylluminator_spark.functions.methyl import beta_to_m_expr

        b = self.get_betas(drop_na=drop_na, apply_mask=apply_mask)
        return b.withColumn("m_value", beta_to_m_expr(F.col("beta"))).drop("beta")

    # -- preprocessing transforms (reference samples.py:940-1016,
    #    1257-1607): each returns a NEW session ---------------------------
    def infer_type1_channel(
        self, switch_failed: bool = False, mask_failed: bool = False
    ) -> "MethylSession":
        """``mask_failed`` masks the probes whose channel could not be
        inferred as 'failed_probes_inferTypeI' (reference
        samples.py:940-1011)."""
        from pylluminator_spark import preprocessing as pp

        sig, _summary, failed = pp.infer_type1_channel(self.signal, switch_failed)
        sess = self.with_signal(sig)
        return sess.add_mask(failed, "failed_probes_inferTypeI") if mask_failed else sess

    def dye_bias_correction(self, reference: DataFrame | None = None) -> "MethylSession":
        from pylluminator_spark import preprocessing as pp

        return self.with_signal(pp.dye_bias_correction(self.signal, reference))

    def dye_bias_correction_l(self, reference: DataFrame | None = None) -> "MethylSession":
        from pylluminator_spark import preprocessing as pp

        return self.with_signal(pp.dye_bias_correction_l(self.signal, reference))

    def dye_bias_correction_nl(self) -> "MethylSession":
        from pylluminator_spark import preprocessing as pp

        return self.with_signal(pp.dye_bias_correction_nl(self.signal))

    def noob_background_correction(
        self, use_negative_controls: bool = True, offset: float = 15
    ) -> "MethylSession":
        from pylluminator_spark import preprocessing as pp

        return self.with_signal(
            pp.noob_background_correction(
                self.signal, self.masks, use_negative_controls, offset
            )
        )

    def scrub_background_correction(self) -> "MethylSession":
        from pylluminator_spark import preprocessing as pp

        return self.with_signal(
            pp.scrub_background_correction(self.signal, self.masks)
        )

    def poobah(
        self, use_negative_controls: bool = True, threshold: float = 0.05
    ) -> "MethylSession":
        """pOOBAH detection masking (reference samples.py:1529-1607): failing
        probes land in the masks table of the returned session."""
        from pylluminator_spark import preprocessing as pp

        _pvals, pb_mask = pp.poobah(
            self.signal, self.masks, use_negative_controls, threshold
        )
        masks = self.masks if self.masks is not None else mask_ops.empty_masks(self.spark)
        return replace(self, masks=masks.unionByName(pb_mask))

    def batch_correction(
        self, batch: str, covariates: list[str] | None = None
    ) -> DataFrame:
        """ComBat on betas (reference samples.py:1609-1701): betas -> M ->
        EB correction -> betas. Requires ``sample_sheet``. Returns the
        corrected long betas table (the reference stores it as ``_betas``;
        here betas are always derived views)."""
        from pylluminator_spark.combat import combat_betas

        if self.sample_sheet is None:
            raise ValueError("batch_correction needs a sample_sheet")
        return combat_betas(
            self.get_betas(drop_na=True), self.sample_sheet, batch, covariates
        )

    # -- sample/probe reshaping (reference samples.py:604-738) ------------
    def merge_samples_by(self, by: str) -> "MethylSession":
        from pylluminator_spark.operators import merge as merge_ops

        if self.sample_sheet is None:
            raise ValueError("merge_samples_by needs a sample_sheet")
        return self.with_signal(
            merge_ops.merge_samples_by(self.signal, self.sample_sheet, by)
        )

    def remove_probes_suffix(self) -> "MethylSession":
        from pylluminator_spark.operators import merge as merge_ops

        return self.with_signal(merge_ops.remove_probes_suffix(self.signal))

    def drop_samples(self, sample_labels) -> "MethylSession":
        from pylluminator_spark.operators import selectors as sel

        labels = [sample_labels] if isinstance(sample_labels, str) else sample_labels
        return self.with_signal(sel.drop_samples(self.signal, labels))

    def subset(self, sample_labels) -> "MethylSession":
        from pylluminator_spark.operators import selectors as sel

        labels = [sample_labels] if isinstance(sample_labels, str) else sample_labels
        return self.with_signal(sel.select_samples(self.signal, labels))

    # -- mask builders (reference samples.py:739-835): each appends to the
    #    masks table of a new session -------------------------------------
    def _add_builder_mask(self, probes: DataFrame, name: str) -> "MethylSession":
        return self.add_mask(probes, name)

    def mask_probes_by_names(self, names_to_mask: str, mask_name: str | None = None) -> "MethylSession":
        probes = mask_ops.mask_quality(self.signal, names_to_mask)
        return self._add_builder_mask(probes, mask_name or names_to_mask)

    def mask_quality_probes(self) -> "MethylSession":
        return self._add_builder_mask(mask_ops.mask_quality(self.signal), "quality")

    def mask_non_unique_probes(self) -> "MethylSession":
        return self._add_builder_mask(
            mask_ops.mask_non_unique(self.signal), "non_unique"
        )

    def mask_xy_probes(self) -> "MethylSession":
        if self.manifest is None:
            raise ValueError("mask_xy_probes needs a manifest with chromosomes")
        return self._add_builder_mask(mask_ops.mask_xy(self.manifest), "xy")

    def mask_control_probes(self) -> "MethylSession":
        return self._add_builder_mask(mask_ops.mask_controls(self.signal), "controls")

    def mask_snp_probes(self) -> "MethylSession":
        return self._add_builder_mask(mask_ops.mask_snp(self.signal), "snp")

    def mask_non_cg_probes(self) -> "MethylSession":
        return self._add_builder_mask(mask_ops.mask_non_cg(self.signal), "non_cg")

    def reset_masks(self) -> "MethylSession":
        return replace(self, masks=mask_ops.empty_masks(self.spark))

    # -- QC aggregates (reference samples.py:1703-1741 /
    #    quality_control.py) ---------------------------------------------
    def get_nb_probes_per_chr_and_type(self) -> DataFrame:
        from pylluminator_spark import quality_control as qc

        return qc.nb_probes_stats(self._sig(True))

    # -- canonical preprocessing chain ------------------------------------
    def preprocess(
        self,
        infer_channel: bool = True,
        dye_bias: str | None = "linear",
        noob: bool = True,
        poobah_threshold: float | None = 0.05,
    ) -> "MethylSession":
        """The reference's tutorial-order chain (SURVEY §3.2):
        ``infer_type1_channel -> dye bias -> NOOB -> pOOBAH`` as one call,
        returning a new session whose signal is **persisted** — the chain's
        output is the canonical reuse point consumed by both ``betas()`` and
        downstream DM/CNV, and without the cache every consumer re-runs the
        whole lineage (measured 4x slower at 6M rows,
        tests/test_scale_pipeline.py). ``dye_bias``: 'linear' | 'nl' | None.
        pOOBAH failures (p >= threshold) land in the masks table.
        """
        sess = self.infer_type1_channel() if infer_channel else self
        if dye_bias is not None:
            sess = sess.with_signal(_stage_dye_bias(self.spark, sess.signal, dye_bias))
        if noob:
            sess = sess.noob_background_correction()
        sess = sess.persist()
        if poobah_threshold is not None:
            sess = sess.poobah(threshold=poobah_threshold)
        return sess

    def run_pipeline(
        self,
        manifest,
        *,
        source_fingerprint: str | None = None,
        infer_channel: bool = True,
        dye_bias: str | None = "linear",
        noob: bool = True,
        use_negative_controls: bool = True,
        noob_offset: float = 15.0,
        poobah_threshold: float | None = 0.05,
        include_out_of_band: bool = False,
    ) -> tuple["MethylSession", dict]:
        """``preprocess`` + ``calculate_betas`` as a CONTENT-ADDRESSED
        pipeline over a ``plans.manifest.PipelineManifest``: every stage
        (infer channel -> dye bias -> NOOB -> pOOBAH -> betas) writes a
        parquet output keyed by (stage code, params, input keys), so

        - re-running an unchanged pipeline reads every stage from the
          store and recomputes nothing;
        - changing one knob recomputes exactly the stages downstream of
          it — e.g. flipping ``include_out_of_band`` recomputes ONLY the
          betas stage. This is the reference's hand-rolled
          ``reset_betas`` cache invalidation (samples.py:1116-1120) made
          systematic: the Merkle chain decides what is stale, and the
          ledger proves what was reused.

        ``source_fingerprint`` identifies the raw signal's CONTENT (use
        ``plans.manifest.source_fingerprint`` over the IDAT directory);
        without it the root is keyed by the signal's analyzed plan (see
        ``PipelineManifest.frame_source``).

        The masks are the second root. When they are the min-beads masks
        of the session's own signal (every ``from_idata`` session), they
        are a ``masks`` stage over the stored signal, keyed by the signal
        key and ``min_beads``: no run rescans the raw source for them, and
        a rerun reads them by key. Any other masks table (after
        ``add_mask`` or a mask builder, say) is keyed by its content,
        which costs one aggregation over its lineage on every run.

        Returns ``(session, stage_refs)``: a new session whose signal /
        masks / betas come from the store (parquet-backed — no persist
        needed, the reuse points are on disk), plus the ``StageRef`` per
        stage name so callers can assert cache behavior
        (``refs["betas"].from_cache``)."""
        refs: dict = {}
        cur = refs["signal"] = manifest.frame_source(
            "signal", self.signal, source_fingerprint
        )
        # masks root. The min-beads masks of a ``from_idata`` session are
        # a function of the signal, so they become a stage over the stored
        # signal: a cold run derives them from that parquet instead of
        # rescanning the raw source, and a rerun finds them by key with no
        # job at all. Any other masks table has no lineage identity
        # (frame_source docstring) and is keyed by its content, which costs
        # one aggregation over the masks' whole lineage — for masks built
        # on the raw signal, a rescan of the raw source — on every run; the
        # no-masks case gets a constant key
        if self.masks is not None and self.masks.sameSemantics(
            min_beads_masks(self.signal, self.min_beads)
        ):
            masks_ref = refs["masks"] = manifest.stage(
                "masks",
                _stage_min_beads_masks,
                [refs["signal"]],
                {"min_beads": self.min_beads},
            )
        else:
            if self.masks is not None:
                from pylluminator_spark.plans.manifest import content_fingerprint

                masks_df = self.masks
                masks_fp = content_fingerprint(masks_df)
            else:
                masks_df = mask_ops.empty_masks(self.spark)
                masks_fp = "empty-masks-v1"
            masks_ref = refs["masks"] = manifest.frame_source(
                "masks", masks_df, masks_fp
            )
        if infer_channel:
            cur = refs["infer_channel"] = manifest.stage(
                "infer_channel", _stage_infer_channel, [cur], {}
            )
        if dye_bias is not None:
            cur = refs["dye_bias"] = manifest.stage(
                "dye_bias", _stage_dye_bias, [cur], {"mode": dye_bias}
            )
        if noob:
            cur = refs["noob"] = manifest.stage(
                "noob",
                _stage_noob,
                [cur, masks_ref],
                {
                    "use_negative_controls": use_negative_controls,
                    "offset": noob_offset,
                },
            )
        # masks reuse point: union the STORE-BACKED masks parquet
        # (masks_ref.df) with the poobah stage output — not self.masks,
        # which would drag the original in-memory lineage along and
        # break the "everything comes from the store" contract below
        new_masks = masks_ref.df if self.masks is not None else None
        if poobah_threshold is not None:
            pb = refs["poobah_mask"] = manifest.stage(
                "poobah_mask",
                _stage_poobah_mask,
                [cur, masks_ref],
                {"threshold": poobah_threshold},
            )
            new_masks = masks_ref.df.unionByName(pb.df)
        betas_ref = refs["betas"] = manifest.stage(
            "betas",
            _stage_betas,
            [cur],
            {"include_out_of_band": include_out_of_band},
        )
        sess = replace(
            self, signal=cur.df, masks=new_masks, betas_df=betas_ref.df
        )
        return sess, refs

    # -- persistence (reference pickle save/load utils.py:144-183,
    #    samples.py:445-462 — here: parquet per table + a JSON manifest) ---
    _TABLES = ("signal", "sample_sheet", "manifest", "masks")

    def save(self, path: str) -> None:
        """Persist every table as parquet under ``path`` plus a small JSON
        state manifest — the distributed replacement for whole-object
        pickling (survives engine upgrades, readable by any parquet tool)."""
        import json
        import os

        state = {
            "min_beads": self.min_beads,
            "array_type": self.array_type,
            "tables": [],
        }
        for name in self._TABLES:
            df = getattr(self, name)
            if df is not None:
                df.write.mode("overwrite").parquet(f"{path}/{name}.parquet")
                state["tables"].append(name)
        os.makedirs(path, exist_ok=True)
        with open(f"{path}/session.json", "w") as fh:
            json.dump(state, fh)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "MethylSession":
        import json

        with open(f"{path}/session.json") as fh:
            state = json.load(fh)
        kwargs = {
            name: spark.read.parquet(f"{path}/{name}.parquet")
            for name in state["tables"]
        }
        return cls(
            spark=spark,
            min_beads=state["min_beads"],
            array_type=state.get("array_type"),
            **kwargs,
        )
