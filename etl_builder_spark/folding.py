"""Cross-engine string-folding pins (round-12 ``extremetext`` sweep).

The adversarial ``extremetext`` corpus exposed three genuine engine-
semantics divergences between Spark (Java/ICU full case mapping,
codepoint string ops) and DuckDB (utf8proc simple case mapping,
byte-leaning string ops):

1. ``lower('İ')`` — Java's full lowercase of U+0130 (LATIN CAPITAL
   LETTER I WITH DOT ABOVE) is the two-codepoint sequence
   ``i`` + U+0307 (COMBINING DOT ABOVE), per the Unicode
   SpecialCasing table; utf8proc's simple mapping yields a bare
   ``i``.  Every tokenizer / normalization key that lowercases text
   therefore disagrees on any corpus containing 'İ'.
   **Pin** (both engines): fold the exact artifact SEQUENCE
   ``i`` + U+0307 → ``i`` AFTER lowering — :func:`fold_lower` on the
   Spark side, :func:`fold_lower_sql` on the oracle side.  Narrowed
   round 13 (ADVICE r12) from "strip every U+0307": the broad strip
   also merged genuine combining dots that are part of the text (NFD
   ``ż`` = z+U+0307, Lithuanian ``i̇``); folding only the two-
   codepoint ``i``+U+0307 sequence touches exactly Java's İ residue
   (plus the inherently ambiguous literal i+U+0307, which Java's
   artifact is indistinguishable from) and leaves every other
   combining dot intact — strictly closer to plain ``lower()``.
   On text containing neither 'İ' nor a literal i+U+0307 this is the
   identity, so real-corpus values are provably unchanged (all
   shipped text columns are pure ASCII — probed at
   sf0.001/0.01/0.1).

2. ``trim(x)`` — DuckDB's default trim strips the utf8proc whitespace
   class (including NBSP U+00A0); Spark's strips ASCII space only.
   **Pin**: oracles use ``trim(x, ' ')`` (explicit ASCII-space set)
   wherever the Spark side uses ``F.trim`` — see call sites.

3. ``upper('ß')`` — Java's full uppercase is ``SS`` (SpecialCasing);
   utf8proc yields U+1E9E ``ẞ``.  **Pin** (both engines): rewrite
   ``ß`` to ``ss`` BEFORE uppercasing — :func:`fold_upper` /
   :func:`fold_upper_sql` — which matches German orthographic
   convention and is the identity on ASCII.

100 TB posture: all pins are single ``translate``/``replace`` calls —
whole-stage-codegen expressions with zero extra shuffles or UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: COMBINING DOT ABOVE — the residue of Java's lower('İ')
COMBINING_DOT = "\u0307"


def fold_lower(col) -> Column:
    """Lowercase with the İ pin: ``replace(lower(col), 'i'+U+0307, 'i')``."""
    return F.replace(F.lower(col), F.lit("i" + COMBINING_DOT), F.lit("i"))


def fold_lower_sql(expr: str) -> str:
    """DuckDB twin of :func:`fold_lower` (chr(775) == U+0307)."""
    return f"replace(lower({expr}), 'i' || chr(775), 'i')"


def fold_upper(col) -> Column:
    """Uppercase with the ß pin: ``upper(replace(col, 'ß', 'ss'))``."""
    return F.upper(F.replace(col, F.lit("ß"), F.lit("ss")))


def fold_upper_sql(expr: str) -> str:
    """DuckDB twin of :func:`fold_upper`."""
    return f"upper(replace({expr}, chr(223), 'ss'))"


def nan_to_null(col) -> Column:
    """IEEE-NaN measurement → NULL (round-12 nanmeasures shape).

    A NaN in a float measure is an UNDEFINED measurement; engines
    disagree on where NaN sorts/aggregates (Spark's percentile ranks
    it largest, DuckDB's quantile_cont skips it, comparisons diverge),
    so order statistics pin NaN to the one unknown-value semantics
    both engines share: NULL, which every aggregate skips identically.
    NULL stays NULL; non-NaN values pass through — the identity on
    NaN-free corpora.  SQL twin:
    ``CASE WHEN isnan(x) THEN NULL ELSE x END``."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.when(~F.isnan(c), c)
