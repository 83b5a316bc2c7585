"""Round-trip verification: the ``parquet-diff`` role, Spark-first.

The reference zip-compares two files positionally with null-safe typed
equality and reports the first mismatch (reference: src/parquet-diff.cc:
67-81 schema, 167-211 values, 264-289 drive loop). Positional compare does
not distribute, so the Spark restatement keys rows by ``doc_id`` (stable row
identity) and compares payloads null-safely — null == null, exactly the
reference's rule (src/parquet-diff.cc:197-207). Encoding differences are
invisible by design: equality is on *decoded logical values*
(reference README.md:93-95).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

TOKEN_COLUMNS = ("tokens", "n_tok", "source")


def _pair_counts(
    left: DataFrame, right: DataFrame, key: str, columns: tuple[str, ...]
) -> DataFrame:
    """One-row frame (n_left, n_right, ok, missing, extra, mismatch): the
    pair counts of a full outer join on ``key`` with null-safe equality on
    ``columns``, computed with one exchange and no join.

    Both sides are tagged with a side count and unioned, so each side's
    plan (a hash UDF, a decode) runs once. Rows meet in one hash exchange
    on ``key``; grouping on (key, *columns) then on key, with no second
    exchange, gives per key A left rows, B right rows and M equal-valued
    pairs. A key on both sides contributes M 'ok' and A·B−M 'mismatch'
    pairs, so duplicates count exactly as the join would; a key on one side
    only contributes its rows to 'missing' (left) or 'extra' (right).
    Grouping equality is null-safe, matching ``eqNullSafe``. A null key
    never matches, as in the join: a null-key row counts by the side it
    came from, left as 'missing', right as 'extra'."""
    cols = [key, *columns]
    sides = left.select(*cols).withColumns({"_l": F.lit(1), "_r": F.lit(0)}).unionByName(
        right.select(*cols).withColumns({"_l": F.lit(0), "_r": F.lit(1)})
    )
    per_value = (
        sides.repartition(key)
        .groupBy(*cols)
        .agg(F.sum("_l").alias("_l"), F.sum("_r").alias("_r"))
    )
    per_key = per_value.groupBy(key).agg(
        F.sum("_l").alias("_nl"),
        F.sum("_r").alias("_nr"),
        F.sum(F.col("_l") * F.col("_r")).alias("_eq"),
    )
    a, b, m = F.col("_nl"), F.col("_nr"), F.col("_eq")
    paired = F.col(key).isNotNull() & (a > 0) & (b > 0)

    def total(e):
        return F.coalesce(F.sum(e), F.lit(0))

    return per_key.agg(
        total(a).alias("n_left"),
        total(b).alias("n_right"),
        total(F.when(paired, m)).alias("ok"),
        total(F.when(~paired, a)).alias("missing"),
        total(F.when(~paired, b)).alias("extra"),
        total(F.when(paired, a * b - m)).alias("mismatch"),
    )


def _pair_report(
    left: DataFrame, right: DataFrame, key: str, columns: tuple[str, ...]
) -> dict:
    """``_pair_counts`` collected as {'equal', 'n_left', 'n_right', 'ok',
    'missing', 'extra', 'mismatch'}. Row counts are compared explicitly:
    a duplicated row pairs as 'ok' with its counterpart, so without the
    count check duplicate-row corruption is silent (reference parquet-diff
    fails on row-count mismatch, src/parquet-diff.cc:238-245)."""
    c = _pair_counts(left, right, key, columns).collect()[0].asDict()
    bad = {k: c[k] for k in ("missing", "extra", "mismatch")}
    return {
        "equal": not any(bad.values()) and c["n_left"] == c["n_right"],
        "n_left": c["n_left"],
        "n_right": c["n_right"],
        "ok": c["ok"],
        **bad,
    }


def _diff_sample(
    left: DataFrame, right: DataFrame, key: str, columns: tuple[str, ...]
) -> list[dict]:
    """Up to 5 non-ok rows of the full outer join, each with its status
    (same null-key rule as ``_pair_counts``)."""
    l_ = left.select(key, *columns, F.lit(True).alias("_side")).alias("l")
    r_ = right.select(key, *columns, F.lit(True).alias("_side")).alias("r")
    joined = l_.join(r_, on=F.col(f"l.{key}") == F.col(f"r.{key}"), how="full_outer")
    match = reduce(
        lambda acc, c: acc & F.col(f"l.{c}").eqNullSafe(F.col(f"r.{c}")), columns, F.lit(True)
    )
    status = (
        F.when(F.col("r._side").isNull(), "missing")
        .when(F.col("l._side").isNull(), "extra")
        .when(~match, "mismatch")
    )
    rows = (
        joined.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select("status", f"l.{key}", *[f"l.{c}" for c in columns], *[f"r.{c}" for c in columns])
        .limit(5)
        .collect()
    )
    return [row.asDict() for row in rows]


def diff_report(
    original: DataFrame,
    decoded: DataFrame,
    key: str = "doc_id",
    columns: tuple[str, ...] = TOKEN_COLUMNS,
) -> dict:
    """Count ok/missing/extra/mismatching rows keyed on ``key``, in one
    grouped pass over both sides (``_pair_counts``): the counts a full
    outer join on the key with null-safe equality on ``columns`` would
    give. A null-key row never matches; it counts as 'missing' when it
    came from ``original`` and 'extra' when it came from ``decoded``.

    Returns {'equal': bool, 'n_left': int, 'n_right': int, 'ok', 'missing',
    'extra', 'mismatch'} plus, when unequal, 'sample': up to 5 diff rows —
    the distributed analogue of the reference's "RowGroup i, Column j,
    Row k" first-difference report. The sample join runs only then.
    """
    if original.schema != decoded.schema:
        # schema difference short-circuits, like parquet-diff exit 1 on
        # column name/type mismatch (src/parquet-diff.cc:24-64)
        return {
            "equal": False,
            "reason": "schema",
            "left_schema": original.schema.simpleString(),
            "right_schema": decoded.schema.simpleString(),
        }
    report = _pair_report(original, decoded, key, columns)
    if not report["equal"]:
        report["sample"] = _diff_sample(original, decoded, key, columns)
    return report


def assert_roundtrip(original: DataFrame, decoded: DataFrame, **kw) -> dict:
    report = diff_report(original, decoded, **kw)
    assert report["equal"], f"round-trip mismatch: {report}"
    return report
