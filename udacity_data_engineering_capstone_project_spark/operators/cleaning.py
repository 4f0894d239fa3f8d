"""Cleaning operators (reference: P5-P10, SURVEY.md §2.2).

Each wraps a one-expression DataFrame idiom as a named, parameterized,
testable operator. All stay inside whole-stage codegen.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def normalize_domain(
    df: DataFrame,
    column: str,
    valid_values: Sequence[str],
    other: str = "other",
    output_column: str | None = None,
) -> DataFrame:
    """Map values outside ``valid_values`` (and nulls) to ``other``.

    Reference semantics (`etl.py:108-109,159-160`):
    `when(~col.isin(valid), other).otherwise(col)` followed by
    `fillna(other)` — nulls fall through the `when` (null condition ->
    otherwise branch) and are caught by the fill.
    """
    out = output_column or column
    c = F.col(column)
    normalized = F.when(~c.isin(list(valid_values)), F.lit(other)).otherwise(c)
    return df.withColumn(out, normalized).fillna(other, subset=[out])


def cast_columns(df: DataFrame, casts: Mapping[str, str]) -> DataFrame:
    """Cast columns by name -> Spark type string (reference casts CSV
    strings to double, `etl.py:135-136,156-157`)."""
    return df.withColumns({name: F.col(name).cast(t) for name, t in casts.items()})


def normalize_unicode(
    df: DataFrame,
    column: str,
    form: str = "NFKC",
    strip_control: bool = True,
    collapse_whitespace: bool = False,
    output_column: str | None = None,
) -> DataFrame:
    """Unicode-normalize a text column — the canonicalization step every
    crawl-scale dedup/tokenize stage wants upstream (NFKC folds
    fullwidth forms, ligatures and compatibility glyphs so fingerprints
    and n-grams agree across encoders).

    Spark SQL has no unicode-normalization builtin, so the normalize
    itself is the justified Python case: ONE Arrow-batched pandas UDF
    calling the C-accelerated ``str.normalize`` per batch (never
    per-row Python). Control-char stripping and whitespace collapsing
    are plain regexes and stay JVM-side around it, keeping the Python
    surface minimal. Nulls pass through as nulls.
    """
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown unicode normalization form: {form!r}")

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.str.normalize(form)

    out = output_column or column
    c: F.Column = _norm(F.col(column))
    if strip_control:
        # C0/C1 controls except \t \n \r, plus zero-width chars and BOM
        c = F.regexp_replace(
            c,
            "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f"
            "\N{ZERO WIDTH SPACE}-\N{ZERO WIDTH JOINER}\N{ZERO WIDTH NO-BREAK SPACE}]",
            "",
        )
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.withColumn(out, c)


# Mojibake markers: UTF-8 multi-byte lead bytes re-decoded as
# cp1252/latin-1. 0xC3/0xC2 ('Ã'/'Â') lead 2-byte Latin sequences;
# 'â€' is the re-decoded prefix of U+2018-U+201D quotes and dashes.
# The continuation byte must itself look like one (U+0080-U+00FF or a
# cp1252 C1 remap) — "Ã " in honest text ("Ã la mode") doesn't flag.
_CP1252_C1 = "€‚ƒ„…†‡ˆ‰Š‹ŒŽ‘’“”•–—˜™š›œžŸ"
_MOJIBAKE_RE = f"[ÃÂ][{_CP1252_C1}\xa0-\xff]|â€"


def fix_mojibake(
    df: DataFrame,
    column: str,
    output_column: str | None = None,
    flag_column: str | None = None,
    max_passes: int = 2,
) -> DataFrame:
    """Repair mojibake — UTF-8 bytes that were wrongly decoded as
    cp1252/latin-1 somewhere upstream ("donâ€™t", "cafÃ©"), the most
    common encoding damage in web crawls (what ftfy exists for).

    Detection is a pure-JVM regex gate, so clean text — the vast
    majority at crawl scale — pays only the Arrow batch transfer,
    zero Python string work (the UDF masks on the flag). Flagged rows go
    through an Arrow-batched encode(cp1252, latin-1 fallback) ->
    decode(utf-8) round-trip, applied up to ``max_passes`` times
    (double-encoded text needs two). The repair is conservative and
    total: any row whose round-trip fails (genuinely non-Latin text,
    invalid UTF-8 after re-encode) keeps its original value — the
    operator can only fix or leave, never corrupt. Nulls pass through.

    ``flag_column`` optionally records which rows hit the detection
    gate (for corpus-quality audits).
    """
    out = output_column or column
    flagged = F.col(column).rlike(_MOJIBAKE_RE)

    @pandas_udf("string")
    def _repair(s: pd.Series, hit: pd.Series) -> pd.Series:
        def sloppy_encode(text):
            # inverse of the decoder that created the mojibake
            # ("sloppy windows-1252"): cp1252 per char, raw byte for
            # the five code points cp1252 leaves unmapped (which a
            # latin-1-fallback decoder emits as C1 controls)
            try:
                return text.encode("cp1252")  # fast path
            except UnicodeEncodeError:
                pass
            out = bytearray()
            for ch in text:
                try:
                    out += ch.encode("cp1252")
                except UnicodeEncodeError:
                    cp = ord(ch)
                    if cp > 0xFF:
                        return None  # genuinely non-Latin: not mojibake
                    out.append(cp)
            return bytes(out)

        def fix(text):
            if text is None:
                return None
            for _ in range(max_passes):
                raw = sloppy_encode(text)
                if raw is None:
                    return text
                try:
                    redecoded = raw.decode("utf-8")
                except UnicodeDecodeError:
                    return text  # not actually mis-decoded UTF-8
                if redecoded == text:
                    return text
                text = redecoded
                if not _marker.search(text):
                    break
            return text

        import re

        _marker = re.compile(_MOJIBAKE_RE)
        mask = hit.fillna(False)
        if not mask.any():
            return s
        fixed = s.copy()
        fixed[mask] = s[mask].map(fix)
        return fixed

    # flag must be computed against the ORIGINAL column — when
    # out == column the repair overwrites it
    res = df.withColumn("__mj_flag", F.coalesce(flagged, F.lit(False)))
    res = res.withColumn(out, _repair(F.col(column), F.col("__mj_flag")))
    if flag_column:
        res = res.withColumnRenamed("__mj_flag", flag_column)
    else:
        res = res.drop("__mj_flag")
    return res
