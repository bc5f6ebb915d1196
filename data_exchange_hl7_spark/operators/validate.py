"""Validation verdicts + accept/reject branch (reference V1-V3, K2).

The reference validates each record against a profile and attaches a
NistReport (lib-nist-validator NistReport.kt:13-55): THREE entry arrays —
``structure``, ``content``, ``value-set`` — each entry
{line, column, path, description, category, classification}, plus
``error-count`` / ``warning-count`` structs {structure, value_set, content}
(SummaryCount, NistReport.kt:41-47) and a ``status`` derived with
structure-errors-take-precedence, then content OR value-set errors
(ProfileManager.kt:158-163). A sidecar branches records to OK vs ERR
destinations on summary.problem == null (fns-sidecars/fn-sc-branch
Function.kt:35-69).

Here the record domain is source-code change events; the checks are the
structural analogues, all pure column expressions (no Python in the hot
path):

  structure checks (reject -> not applied):
    - required metadata present: commit non-empty (Function.kt:218-220)
    - op in the known set (delimiter sanity analogue, D8
      fn-structure-validator Function.kt:193-205)
    - RENAME carries new_path
    - non-DELETE carries content
  content checks (warn, still applied):
    - BOM/whitespace pollution (CovidELRWithBlanks fixture analogue)
    - oversized content
  value-set checks (from operators.vocab.check_vocab, V4/V6):
    - coded-column membership in a broadcast vocab dim

Hot-path note: counts and status are computed as boolean arithmetic over
the check CONDITIONS, not by filtering materialized entry arrays — a
status-only consumer (the epoch apply caches status + counts for every
row) never pays per-row array-of-struct construction; Catalyst prunes the
entry arrays away entirely unless ``report`` / ``report_entries`` are
actually selected.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

VALID = "VALID_MESSAGE"
STRUCTURE_ERRORS = "STRUCTURE_ERRORS"
CONTENT_ERRORS = "CONTENT_ERRORS"

KNOWN_OPS = ["INSERT", "UPDATE", "DELETE", "RENAME", "SCHEMA_ADD", "SCHEMA_RENAME", "SCHEMA_WIDEN"]

ENTRY_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("description", T.StringType()),
            T.StructField("category", T.StringType()),
            T.StructField("classification", T.StringType()),
        ]
    )
)

# a check = (condition Column, (path, description, category, classification))
Check = tuple


def _structure_checks() -> list[Check]:
    return [
        (
            # schema-change events are metadata-only: exempt from the
            # required-provenance check (a real WAL's DDL records carry no
            # per-file commit)
            (F.coalesce(F.trim("commit"), F.lit("")) == "")
            & ~F.col("op").startswith("SCHEMA"),
            ("commit", "required metadata 'commit' missing", "Usage", "Error"),
        ),
        (
            ~F.col("op").isin(*KNOWN_OPS),
            ("op", "unknown operation", "Format", "Error"),
        ),
        (
            (F.col("op") == "RENAME") & F.col("new_path").isNull(),
            ("new_path", "RENAME without new_path", "Usage", "Error"),
        ),
        (
            (~F.col("op").isin("DELETE", "SCHEMA_ADD", "SCHEMA_RENAME", "SCHEMA_WIDEN"))
            & (F.coalesce(F.col("content"), F.lit("")) == ""),
            ("content", "missing content for upsert", "Usage", "Error"),
        ),
    ]


def _content_checks(max_content_bytes: int) -> list[Check]:
    return [
        (
            # equivalent to rlike("^[BOM\s]+|[BOM\s]+$") but without the regex
            # engine: polluted iff trimming the char set changes the string
            F.coalesce(F.col("content"), F.lit(""))
            != F.btrim(F.coalesce(F.col("content"), F.lit("")), F.lit("﻿ \t\n\x0b\f\r")),
            ("content", "leading/trailing whitespace or BOM", "Format", "Warning"),
        ),
        (
            F.length(F.coalesce(F.col("content"), F.lit(""))) > max_content_bytes,
            ("content", "content exceeds size budget", "Constraint Failure", "Error"),
        ),
    ]


def _entry_lit(meta: tuple) -> Column:
    path, description, category, classification = meta
    return F.struct(
        F.lit(path).alias("path"),
        F.lit(description).alias("description"),
        F.lit(category).alias("category"),
        F.lit(classification).alias("classification"),
    )


def _entries_of(checks: list[Check]) -> Column:
    return F.filter(
        F.array(*[F.when(cond, _entry_lit(meta)).otherwise(F.lit(None)) for cond, meta in checks]),
        lambda x: x.isNotNull(),
    ).cast(ENTRY_TYPE)


def _count_of(checks: list[Check], classification: str) -> Column:
    """Matched-check count for one classification as a sum of boolean casts
    — no entry-array materialization on the count/status path."""
    terms = [cond.cast("int") for cond, meta in checks if meta[3] == classification]
    if not terms:
        return F.lit(0)
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return total


def _n(entries: Column, classification: str) -> Column:
    """Count within a runtime entry array (used for caller-supplied
    value-set entries, whose conditions live in operators.vocab)."""
    return F.size(F.filter(entries, lambda x: x["classification"] == classification))


def _verdict_exprs(max_content_bytes: int, value_set_entries: Column | None) -> dict:
    sc = _structure_checks()
    cc = _content_checks(max_content_bytes)
    vs = (
        value_set_entries
        if value_set_entries is not None
        else F.array().cast(ENTRY_TYPE)
    ).cast(ENTRY_TYPE)
    err = F.struct(
        _count_of(sc, "Error").alias("structure"),
        _n(vs, "Error").alias("value_set"),
        _count_of(cc, "Error").alias("content"),
    )
    warn = F.struct(
        _count_of(sc, "Warning").alias("structure"),
        _n(vs, "Warning").alias("value_set"),
        _count_of(cc, "Warning").alias("content"),
    )
    # ProfileManager.kt:158-163: structure errors -> STRUCTURE_ERRORS, else
    # content OR value-set errors -> CONTENT_ERRORS, else VALID_MESSAGE
    status = (
        F.when(F.col("error_count")["structure"] > 0, F.lit(STRUCTURE_ERRORS))
        .when(
            (F.col("error_count")["content"] > 0)
            | (F.col("error_count")["value_set"] > 0),
            F.lit(CONTENT_ERRORS),
        )
        .otherwise(F.lit(VALID))
    )
    es, ec = _entries_of(sc), _entries_of(cc)
    report = F.struct(
        F.struct(es.alias("structure"), ec.alias("content"), vs.alias("value_set")).alias(
            "entries"
        ),
        F.col("error_count").alias("error_count"),
        F.col("warning_count").alias("warning_count"),
        F.col("status").alias("status"),
    )
    return {
        "error_count": err,
        "warning_count": warn,
        "status": status,
        "report": report,
        "report_entries": F.concat(es, ec, vs),
    }


# (gateway, max_content_bytes) -> (gateway, verdict exprs without value-set
# entries); see _default_verdict_exprs
_DEFAULT_EXPRS: dict = {}


def _default_verdict_exprs(max_content_bytes: int) -> dict:
    """The verdict columns without caller-supplied value-set entries, built
    once per JVM gateway. A Column is an unresolved expression tree that
    any frame can use, and building these costs a py4j round trip per
    function call: about 0.5 s per epoch apply on a 4-vCPU VM, which
    validates and rebuilds the reject entries every epoch."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    hit = _DEFAULT_EXPRS.get((id(gw), max_content_bytes))
    if hit is None or hit[0] is not gw:
        hit = (gw, _verdict_exprs(max_content_bytes, None))
        _DEFAULT_EXPRS[(id(gw), max_content_bytes)] = hit
    return hit[1]


def _exprs(max_content_bytes: int, value_set_entries: Column | None) -> dict:
    if value_set_entries is None:
        return _default_verdict_exprs(max_content_bytes)
    return _verdict_exprs(max_content_bytes, value_set_entries)


def report_entries_expr(
    max_content_bytes: int = 1_000_000,
    value_set_entries: Column | None = None,
) -> Column:
    """The flat report_entries column (all three sections concatenated) as a
    standalone expression — lets a caller that cached only status/counts
    (e.g. the epoch apply) reconstruct entries for the few rows that need
    them (the reject sink) without re-validating the whole slice."""
    return _exprs(max_content_bytes, value_set_entries)["report_entries"]


def validate(
    df: DataFrame,
    max_content_bytes: int = 1_000_000,
    value_set_entries: Column | None = None,
) -> DataFrame:
    """Attach NistReport-shaped verdict columns.

    Adds ``report`` — the full NistReport struct
    {entries: {structure[], content[], value_set[]},
     error_count: {structure, value_set, content},
     warning_count: {structure, value_set, content}, status}
    (NistReport.kt:13-55) — plus flattened conveniences: ``report_entries``
    (all three arrays concatenated), ``error_count`` / ``warning_count``
    structs, and ``status`` with the reference's precedence rule (structure
    errors win, else content OR value-set errors, ProfileManager.kt:158-163).

    ``value_set_entries``: an ENTRY_TYPE column of vocab verdicts (from
    operators.vocab.check_vocab) folded into the value-set section.
    """
    x = _exprs(max_content_bytes, value_set_entries)
    # one column at a time: status and report read the columns added before
    for c in ("error_count", "warning_count", "status", "report", "report_entries"):
        df = df.withColumn(c, x[c])
    return df


def branch(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """K2 ok/err router: (accepted, rejected).

    The reference branches on summary.problem == null
    (fn-sc-branch Function.kt:35-69); here on structure errors. CONTENT_ERRORS
    records are accepted-with-warnings (they continue down the pipeline, as
    the reference's content-warning path does).
    """
    ok = df.filter(F.col("status") != STRUCTURE_ERRORS)
    err = df.filter(F.col("status") == STRUCTURE_ERRORS)
    return ok, err
