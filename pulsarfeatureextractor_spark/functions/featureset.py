"""Type-selectable feature extraction — the engine's analogue of the
reference CLI's feature-type flag.

The reference family exposes a numbered feature-type switch choosing
which published feature set to emit per candidate (SURVEY.md §2A A9;
BASELINE.json north_star names the Lyon moments and Thornton-style
scores explicitly — those two are correctness-pinned; the remaining
sets are passthrough/derived conveniences in the same vectorized
patterns).  Sets:

- ``lyon``      : 4 moment features of the token array (A7; the 8-set
  = profile + DM curve is two rows/kinds of the same 4).
- ``thornton``  : 10 curve-fit/peak scores (A8 1-D subset).
- ``stats``     : SQL-expressible quick stats (S/N, peak offset) — the
  JVM-only tier for cheap prefiltering.
- ``widths``    : Eatough-style pulse-width / peak-shape features
  (W50/W25 proxies, peak-to-mean, crest) — JVM-only.
- ``peace``     : Lee et al. 2013 PEACE-style six scores (S/N, duty,
  segment persistence, decile contrast, peaks, smoothness) — JVM-only.
- ``spinn``     : Morello et al. 2014 SPINN-style six features
  (log S/N, duty, persistence, contrast, tail fraction, log length) —
  JVM-only, documented substitutions for absent DM/period inputs.
- ``raw``       : the token array cast to double, unmodified — the
  raw-bins passthrough set (classifier-side normalization).
- ``subband``   : Thornton/Bates-style 2-D sub-band scores (A8 2-D
  family) over the deterministic synthetic cube derived from the token
  curve (real sub-band data is absent from the hinted input shape; a
  real cube loads into the same flat band-major column and scores via
  ``scores.with_subband_scores`` directly).
- ``all``       : lyon + thornton + widths + stats.

Each set appends flat, prunable double columns; ``tokens`` is never
mutated (input_hint invariant).

Planning (``plan_features``): a set is a list of FAMILIES, and each
family is an optional JVM step (SQL expressions over the token array)
followed by an optional Arrow kernel.  All JVM steps run first, then
EVERY Arrow kernel of the request runs in one ``mapInArrow`` (one
Python crossing per plan, however many kernel families), which may
drop the token array at the boundary; a final projection restores the
documented column order.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pulsarfeatureextractor_spark.functions._arrow import map_arrow_kernels
from pulsarfeatureextractor_spark.functions.moments import (
    LYON_FIELDS,
    moments_list_array,
)
from pulsarfeatureextractor_spark.functions.scores import (
    SCORE_FIELDS,
    SUBBAND_FIELDS,
    scores_list_array,
    subband_scores_list_array,
    with_peace_features,
    with_profile_stats_sql,
    with_spinn_features,
    with_width_features,
)
from pulsarfeatureextractor_spark.sources.tokenized import with_synthetic_subbands

FEATURE_SETS = (
    "lyon", "thornton", "stats", "widths", "peace", "spinn", "subband",
    "raw", "all",
)


def _with_raw_bins(df: DataFrame, tokens_col: str) -> DataFrame:
    return df.withColumn(
        "raw_bins", F.transform(F.col(tokens_col), lambda v: v.cast("double"))
    )


# family -> (JVM step(df, tokens_col) or None,
#            Arrow kernel (input column or None for tokens, names, fn) or None)
_FAMILIES = {
    "lyon": (None, (None, LYON_FIELDS, moments_list_array)),
    "thornton": (None, (None, SCORE_FIELDS, scores_list_array)),
    "stats": (with_profile_stats_sql, None),
    "widths": (with_width_features, None),
    "peace": (with_peace_features, None),
    "spinn": (with_spinn_features, None),
    "raw": (_with_raw_bins, None),
    "subband": (with_synthetic_subbands,
                ("sb_flat", SUBBAND_FIELDS, partial(subband_scores_list_array, n_chan=8))),
}
# next to the stats family (which owns the plain names), the Thornton
# kernel's copies of its two columns carry a suffix
_STATS_TWINS = {"sn_ratio": "sn_ratio_t", "peak_offset": "peak_offset_t"}


def feature_families(feature_set: str) -> "tuple[str, ...]":
    """The families a named feature set is made of."""
    if feature_set not in FEATURE_SETS:
        raise ValueError(
            f"unknown feature set {feature_set!r}; one of {FEATURE_SETS}"
        )
    if feature_set == "all":
        return ("lyon", "thornton", "widths", "stats")
    return (feature_set,)


def plan_features(
    df: DataFrame,
    families: "tuple[str, ...] | list[str]",
    tokens_col: str = "tokens",
    drop: "tuple[str, ...] | list[str]" = (),
) -> DataFrame:
    """Append the columns of ``families`` (see the module docstring) in
    ONE plan: the JVM steps, then one ``mapInArrow`` holding every Arrow
    kernel, then a projection to ``df``'s columns (minus ``drop``)
    followed by each family's columns in family order.

    ``drop`` removes columns (typically ``("tokens",)``) from the output
    batches at the Python boundary, so the return crossing ships only
    the kept and feature columns instead of echoing the token buffers
    back to the JVM.  Spark cannot prune columns through an opaque
    ``mapInArrow``; dropping them here is the only way to keep them out
    of everything downstream.
    """
    out = df
    dropset = set(drop)
    cols = [c for c in df.columns if c not in dropset]
    kernels = []
    for family in families:
        jvm_step, kernel = _FAMILIES[family]
        if jvm_step is not None:
            before = set(out.columns)
            out = jvm_step(out, tokens_col)
            cols += [c for c in out.columns if c not in before]
        if kernel is not None:
            src, names, fn = kernel
            if family == "thornton" and "stats" in families:
                names = [_STATS_TWINS.get(n, n) for n in names]
            kernels.append((src or tokens_col, names, fn))
            cols += names
    if kernels:
        out = map_arrow_kernels(out, kernels, drop)
    return out.select(*cols)


def extract_features(
    df: DataFrame, feature_set: str = "lyon", tokens_col: str = "tokens"
) -> DataFrame:
    """Append the chosen feature set's columns (see module docstring)."""
    return plan_features(df, feature_families(feature_set), tokens_col)


def fused_features_arrow(
    df: DataFrame,
    tokens_col: str = "tokens",
    include_scores: bool = True,
    drop: "tuple[str, ...] | list[str]" = (),
) -> DataFrame:
    """Lyon moments (+ Thornton scores) in ONE ``mapInArrow`` pass: the
    ``plan_features`` plan of the two Arrow-kernel families.  The
    flagship query, ``FeatureFrame.fused_features`` and the benches call it;
    the feature CLI and ``extract_features`` run the same planner.

    One crossing instead of two: the token arrays (~90% of the bytes)
    ride the JVM→Python boundary once, and with ``drop=("tokens",)``
    the return crossing ships only the narrow feature columns.  Arrow
    transfer is memory-bandwidth-bound, and fixed per-task Python cost
    dominates small batches, so every extra crossing costs more than
    its kernel work.

    Results are identical to the composed single-family operators
    (pytest-pinned: moments bit-exact, scores allclose at 1e-12 — the
    lstsq kernel is batch-composition-dependent at ~1e-16).
    """
    families = ("lyon", "thornton") if include_scores else ("lyon",)
    return plan_features(df, families, tokens_col, drop)
