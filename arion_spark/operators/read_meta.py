"""``read_meta`` — per-turn metadata extraction (operator O1).

Transposition of the reference's IPTC scan (reference:
src/models/read_meta.cpp:108-222): keyword comma-split + trim, scalar
caption field, case-insensitive release-flag substring search, the named
scalar/repeatable fields readIptc surfaces (copyright, city,
province_state, country_name/code, special_instructions; subject[],
byline[] — src/models/read_meta.cpp:146-222, serialize :226-317), plus
the transcript-domain tool extraction.

Named fields are carried as structured ``[key: value]`` markers in
``text`` (the IPTC-embedded-in-file analog; see
``operators.meta_fields``); absent markers yield NULL scalars / empty
arrays, mirroring the reference's absent-IPTC-key behavior.

Pure narrow projection — 100% built-in ``F.*`` column expressions, fully
inside whole-stage codegen; zero shuffle, zero Python.  At 100 TB this is
a map-only stage fused into the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from arion_spark.operators import meta_fields as MF

#: Output columns added by this operator (used by the compiler's info doc).
OUTPUT_COLUMNS = (
    "caption",
    "keywords",
    "model_released",
    "property_released",
    "n_chars",
    "n_tokens",
    "has_tool",
) + MF.READ_SCALARS + MF.READ_ARRAYS


def keywords_col(text: Column) -> Column:
    """Comma-split + trim + drop-empties (reference keyword split:
    src/models/read_meta.cpp:172-183)."""
    return F.filter(
        F.transform(F.split(text, ","), lambda k: F.trim(k)),
        lambda k: k != "",
    )


def named_scalar(text: Column, name: str) -> Column:
    """First ``[name: value]`` marker value, NULL when absent.

    Deliberately one regexp_extract per field: a staged single-pass
    variant (one ``regexp_extract_all`` of all markers into
    array<struct<k,v>>, then per-field array filters) was built and
    MEASURED 12× SLOWER (2026-08-17: 17.1 s vs 1.4 s at 2M rows × 8
    fields; BASELINE.md, "Negative results") — higher-order array lambdas
    (transform/filter) are interpreted per element, while per-field
    Java regex stays inside whole-stage codegen.  Java regex is not the
    bottleneck here; interpreted lambdas are."""
    return F.nullif(
        F.trim(F.regexp_extract(text, MF.marker_pattern(name), 1)), F.lit("")
    )


def named_array(text: Column, name: str) -> Column:
    """All ``[name: value]`` marker values in order (repeatable field).
    Per-field regex on purpose — see ``named_scalar``."""
    return F.transform(
        F.regexp_extract_all(text, F.lit(MF.marker_pattern(name)), F.lit(1)),
        lambda v: F.trim(v),
    )


def extract(
    df: DataFrame,
    text_col: str = "text",
    tool_col: str = "tool",
    skip: set[str] | frozenset[str] = frozenset(),
) -> DataFrame:
    """Metadata extraction; ``skip`` lists columns already injected by
    write_meta overrides, which win over extraction (reference:
    overrideMeta runs before the op loop, src/arion.cpp:737-739, and
    readIptc then reads the overridden IptcData)."""
    text = F.col(text_col)
    low = F.lower(text)
    cols: dict[str, Column] = {
        "caption": F.trim(F.split(text, ",").getItem(0)),
        "keywords": keywords_col(text),
        "model_released": low.contains("model released (mr)"),
        "property_released": low.contains("property released (pr)"),
        "n_chars": F.length(text).cast("int"),
        "n_tokens": F.when(F.trim(text) == "", F.lit(0))
        .otherwise(F.size(F.split(F.trim(text), r"\s+")))
        .cast("int"),
        "has_tool": F.col(tool_col).isNotNull(),
    }
    for name in MF.READ_SCALARS:
        cols[name] = named_scalar(text, name)
    for name in MF.READ_ARRAYS:
        cols[name] = named_array(text, name)
    for name in skip:
        cols.pop(name, None)
    return df.withColumns(cols)
