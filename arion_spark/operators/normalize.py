"""``normalize`` — per-turn text normalization (operator O2, resize analog).

Transposes the reference's resize pipeline (reference:
src/models/resize.cpp:610-829) to text-length budgets: pre-filter →
geometry (width/height/square/fill × 9-way gravity) → sharpen → watermark.
Exact semantics are defined by :mod:`arion_spark.oracle`.

Physical strategy (the scale-critical decision):
  * pre-filter, all four geometry algorithms, and sharpen compile to
    **built-in JVM expressions** (substring/lpad/rpad/concat/upper) —
    whole-stage-codegen'd, narrow, no Python worker involved.  This is
    the hot path for 100 TB.
  * only the watermark decoration (per-position periodic overlay, not
    expressible as a fixed SQL expression tree) drops to an
    Arrow-vectorized pandas UDF — applied *after* the JVM stages so a
    chain without watermarks never leaves the JVM.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arion_spark import oracle


def _crop_pad_expr(
    text: Column, target: int, pos: str, interp: str = "area"
) -> Column:
    """JVM expression mirror of ``oracle._crop_pad``.

    offset: left→0, center→floor((n-t+1)/2) (≡ round-half-up of (n-t)/2
    for integer n-t), right→n-t; shorter inputs pad on the side opposite
    the gravity.  ``interp`` selects the boundary-rendering policy
    (oracle.INTERP_TRUNC_DOTS / INTERP_PAD — the resampling-kernel
    analog); ``area`` keeps the plain cut + space pad default.  Still one
    pure JVM expression — no Python for any mode.
    """
    n = F.length(text)
    t = F.lit(target)
    if pos == "left":
        off = F.lit(0)
    elif pos == "right":
        off = n - t
    else:
        off = F.floor((n - t + 1) / 2).cast("int")
    cropped = F.substring(text, off + 1, target)  # substring is 1-based

    d = oracle.INTERP_TRUNC_DOTS[interp]
    if d:
        # ellipsis over the outermost chars of each side that cut content
        l_dots = F.when(off > 0, F.least(F.lit(d), t)).otherwise(F.lit(0))
        r_dots = F.when(
            (n - t - off) > 0, F.least(F.lit(d), t - l_dots)
        ).otherwise(F.lit(0))
        cropped = F.concat(
            F.repeat(F.lit("."), l_dots),
            cropped.substr(l_dots + 1, t - l_dots - r_dots),
            F.repeat(F.lit("."), r_dots),
        )

    pad_mode = oracle.INTERP_PAD[interp]
    if pad_mode == "edge":
        lc = F.when(n == 0, F.lit(" ")).otherwise(F.substring(text, 1, 1))
        rc = F.when(n == 0, F.lit(" ")).otherwise(text.substr(n, F.lit(1)))
    elif pad_mode == "_":
        lc = rc = F.lit("_")
    else:
        lc = rc = F.lit(" ")

    pad = t - n
    if pos == "left":
        padded = F.concat(text, F.repeat(rc, pad))
    elif pos == "right":
        padded = F.concat(F.repeat(lc, pad), text)
    else:
        left = F.floor(pad / 2).cast("int")
        padded = F.concat(F.repeat(lc, left), text, F.repeat(rc, pad - left))
    return F.when(n >= t, cropped).otherwise(padded)


def geometry_expr(
    text: Column,
    width: int | None,
    height: int | None,
    type_: str,
    gravity: str = "center",
    interp: str = "area",
) -> Column:
    """The four resize algorithms as one JVM expression
    (see oracle.normalize_geometry for the semantic definition)."""
    if type_ == "width":
        target = width if height is None else min(width, height)
        return _crop_pad_expr(text, target, "left", interp)
    if type_ == "height":
        target = height if width is None else min(height, width)
        return _crop_pad_expr(text, target, "left", interp)
    if type_ == "square":
        return _crop_pad_expr(text, width, "center", interp)
    if type_ == "fill":
        return _crop_pad_expr(
            text, width, oracle.GRAVITY_POS[gravity.lower()], interp
        )
    raise ValueError(f"unknown resize type: {type_}")


def pre_filter_expr(text: Column) -> Column:
    """Whitespace-collapse pre-pass (anti-alias analog),
    reference: src/models/resize.cpp:685-694."""
    return F.trim(F.regexp_replace(text, r"\s+", " "))


def sharpen_expr(text: Column, amount: float, radius: float) -> Column:
    """Leading-emphasis sharpen (reference: src/models/resize.cpp:700-712)."""
    if not amount:
        return text
    k = F.least(F.length(text), F.floor(F.lit(amount / 100.0 * radius) + 0.5)).cast(
        "int"
    )
    return F.concat(
        F.upper(F.substring(text, 1, k)),
        F.substring(text, k + 1, F.length(text)),
    )


def watermark_udf(
    mark: str,
    wm_type: str,
    amount: float,
    min_amount: float,
    max_amount: float,
):
    """Arrow-vectorized watermark overlay — the one sub-transform that is
    data-dependent per character position (reference adaptive blend:
    src/models/resize.cpp:880-896) and so runs in a pandas UDF.

    Body is vectorized (bit-for-bit equal to
    ``oracle.watermark_text_op``, enforced by property tests):

    * ``standard`` + all-ASCII batch (the common case): ONE numpy pass —
      the whole Arrow batch is joined, overlay positions for every row
      are computed as one fancy-index assignment over a uint8 view, and
      rows are re-sliced from the decoded result.  Measured 2.4× over
      the previous per-character ``Series.map`` body at period 10
      (utf-32 variants were tried and are *slower* — the 4-byte
      round-trip costs more than it saves; see BASELINE.md).
    * ``adaptive`` + all-ASCII batch: brightness for every row is one
      ``np.cumsum`` over an alnum lookup-table view of the joined
      buffer (for ASCII, ``str.isalnum`` ≡ ``[0-9A-Za-z]``), the blend →
      period map runs once per *unique* brightness via ``math.log10``
      (numpy's log10 can differ from libm by 1 ULP, which could flip
      ``floor(1/blend + 0.5)`` at a period boundary — the per-unique
      loop keeps bit parity with the oracle at negligible cost), and
      rows are rendered through the same single-pass batch renderer
      bucketed by period.
    * non-ASCII: per-row slice render (substring spans between marks
      instead of a per-character list rebuild).  Per-row is DELIBERATE —
      a fully vectorized utf-32 twin of the ASCII pass (uint32 codepoint
      view, same overlay index math, unique-codepoint isalnum lookup)
      was built and measured SLOWER on 2026-08-18 (BASELINE.md,
      "Negative results"): 0.6-0.7× on standard, 0.1-0.2× on
      adaptive, across 80/1.2k/6k-char rows — CPython's str slicing and
      ``str.isalnum`` are already C-speed, while the utf-32 path pays
      encode + np.unique + searchsorted over 4-byte codepoints.  The
      only u32 win was standard-type at ~6k chars (3×), too narrow to
      buy the complexity.
    """
    import math

    import numpy as np

    m_len = len(mark)
    try:
        _mark_b: np.ndarray | None = np.frombuffer(
            mark.encode("ascii"), dtype=np.uint8
        )
    except UnicodeEncodeError:
        _mark_b = None

    def _render(t: str, period: int) -> str:
        # overlay mark chars at positions 0, T, 2T... via slices
        parts = []
        for k, p in enumerate(range(0, len(t), period)):
            parts.append(mark[k % m_len])
            parts.append(t[p + 1 : p + period])
        return "".join(parts)

    def _render_batch_ascii(texts: list[str], buf: bytes, period: int) -> list[str]:
        lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=len(texts))
        a = np.frombuffer(buf, dtype=np.uint8).copy()
        starts = np.zeros(len(texts), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        counts = (lens + period - 1) // period
        row_of = np.repeat(np.arange(len(texts)), counts)
        k_in_row = np.arange(int(counts.sum())) - np.repeat(
            np.concatenate([[0], np.cumsum(counts)[:-1]]), counts
        )
        idx = starts[row_of] + k_in_row * period
        a[idx] = _mark_b[k_in_row % m_len]
        out = a.tobytes().decode("ascii")
        return [out[s : s + n] for s, n in zip(starts, lens)]

    # ASCII alnum lookup: for code points < 128, str.isalnum is exactly
    # [0-9A-Za-z] — the uint8 view makes brightness a cumsum difference
    _ALNUM = np.zeros(256, dtype=np.int64)
    for _lo, _hi in ((48, 58), (65, 91), (97, 123)):
        _ALNUM[_lo:_hi] = 1

    def _blend_of(brightness: float) -> float:
        return (max_amount - min_amount) * math.log10(
            1 + 9 * brightness
        ) + min_amount

    def _render_batch_adaptive_ascii(texts: list[str], buf: bytes) -> list[str]:
        lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=len(texts))
        a = np.frombuffer(buf, dtype=np.uint8)
        starts = np.zeros(len(texts), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        csum = np.concatenate([[0], np.cumsum(_ALNUM[a])])
        brightness = (csum[starts + lens] - csum[starts]) / lens
        ub, inv = np.unique(brightness, return_inverse=True)
        blend = np.array([_blend_of(b) for b in ub], dtype=np.float64)[inv]
        todo = blend > 0
        out = list(texts)
        if not todo.any():
            return out
        periods = np.ones_like(lens)
        periods[todo] = np.maximum(
            1, np.floor(1.0 / blend[todo] + 0.5)
        ).astype(np.int64)
        for period in np.unique(periods[todo]):
            rows = np.nonzero(todo & (periods == period))[0]
            sub = [texts[i] for i in rows]
            subbuf = np.concatenate(
                [a[starts[i] : starts[i] + lens[i]] for i in rows]
            ).tobytes()
            for i, r in zip(rows, _render_batch_ascii(sub, subbuf, int(period))):
                out[i] = r
        return out

    def _one_adaptive(t: str) -> str:
        brightness = sum(map(str.isalnum, t)) / len(t)
        blend = _blend_of(brightness)
        if blend <= 0:
            return t
        return _render(t, max(1, math.floor(1.0 / blend + 0.5)))

    @F.pandas_udf(T.StringType())
    def _wm(s: pd.Series) -> pd.Series:
        if wm_type == "adaptive":
            vals = s.tolist()
            texts = [t for t in vals if t]
            if _mark_b is not None and texts:
                big = "".join(texts)
                buf = big.encode("utf-8")
                if len(buf) == len(big):  # all-ASCII batch → numpy pass
                    rendered = iter(_render_batch_adaptive_ascii(texts, buf))
                    return pd.Series(
                        [next(rendered) if t else t for t in vals], index=s.index
                    )
            return pd.Series(
                [_one_adaptive(t) if t else t for t in vals], index=s.index
            )
        if amount <= 0:
            return s
        period = max(1, math.floor(1.0 / amount + 0.5))
        vals = s.tolist()
        texts = [t for t in vals if t]
        if _mark_b is not None and texts:
            big = "".join(texts)
            buf = big.encode("utf-8")
            if len(buf) == len(big):  # all-ASCII batch → single numpy pass
                rendered = iter(_render_batch_ascii(texts, buf, period))
                return pd.Series(
                    [next(rendered) if t else t for t in vals], index=s.index
                )
        return s.map(
            lambda t: _render(t, period) if t else t, na_action="ignore"
        )

    return _wm


def apply(
    df: DataFrame,
    params: dict,
    in_col: str = "text",
    out_col: str = "normalized_text",
) -> DataFrame:
    """Full normalize chain in the reference's run order."""
    text = F.col(in_col)
    if params.get("pre_filter"):
        text = pre_filter_expr(text)
    text = geometry_expr(
        text,
        params.get("width"),
        params.get("height"),
        params.get("type", "width"),
        params.get("gravity", "center"),
        params.get("interpolation", "area"),
    )
    text = sharpen_expr(
        text, params.get("sharpen_amount", 0), params.get("sharpen_radius", 0)
    )
    out = df.withColumn(out_col, text)
    mark = params.get("watermark_text")
    if mark:
        wm = watermark_udf(
            mark,
            params.get("watermark_type", "standard"),
            params.get("watermark_amount", 0.0),
            params.get("watermark_min", 0.0),
            params.get("watermark_max", 0.0),
        )
        out = out.withColumn(out_col, wm(F.col(out_col)))
    return out
