"""Correctness oracles.

Every output is checked row by row through a 64-bit hash per row: the
timed job collects the multiset of its rows' hashes, the oracle's rows
are hashed the same way once per run, and the failed rows are the
larger of the two one-sided multiset differences (an altered row is one
failed row).  Rows themselves are only collected, to report examples,
when the hashes differ.

Extraction output (extract and checkpoint workloads) is compared with
the ``sources.synthetic.expected_rows`` goldens on (doc_id, order, kind,
media_ref, text, error_code), with ``confidence`` rounded to 6 places.

Curation output is compared with the DuckDB ``O_*`` oracles of
``queries.py`` under the normalisation of ``tests/test_oracle_parity.py``:
the column names and types must match the oracle's exactly (any dtype
difference fails every row), and each row is hashed with its columns in
name order and floats rounded to 6 places.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame, functions as F

EXACT_COLS = ("doc_id", "order", "kind", "media_ref", "text", "error_code")
_MAX_EXAMPLES = 5  # failing rows reported per side and output


def span_hash(df: DataFrame) -> Column:
    """Hash of an extraction row's oracle columns."""
    return F.xxhash64(
        F.struct(*EXACT_COLS, F.round("confidence", 6).alias("confidence"))
    )


def normalised_hash(df: DataFrame) -> Column:
    """Hash of a query result row under the parity test's normalisation:
    every column, in name order, floating columns rounded to 6 places."""
    types = dict(df.dtypes)
    return F.xxhash64(F.struct(*[
        F.round(c, 6).alias(c) if types[c] in ("double", "float") else F.col(c)
        for c in sorted(df.columns, key=str.lower)
    ]))


def dtypes(df: DataFrame) -> dict[str, str]:
    """Column types by lower-cased name, as the parity test compares them."""
    return {c.lower(): t for c, t in df.dtypes}


def collect_hashes(df: DataFrame, h: Column) -> Counter:
    """The multiset of ``h`` over ``df``'s rows.  A hash of the whole
    row is computed alongside (``bench.py``'s force()), so no column of
    the job is pruned away."""
    full = F.xxhash64(F.struct(*df.columns))
    return Counter(r[0] for r in df.select(h, full).collect())


def failed_rows(got: Counter, want: Counter) -> int:
    """Rows that differ between two multisets of row hashes."""
    return max(sum((got - want).values()), sum((want - got).values()))


def examples(df: DataFrame, h: Column, hashes: Counter, side: str) -> list[dict]:
    """A few of ``df``'s rows whose hash is in ``hashes``."""
    if not hashes:
        return []
    rows = df.where(h.isin(list(hashes))).limit(_MAX_EXAMPLES).collect()
    return [{"side": side, **r.asDict()} for r in rows]
