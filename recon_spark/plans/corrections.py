"""Correction-file builder (SURVEY.md §2: F11 selection, P3 template
projection, F10 action-tab split, D4 output sort).

Reference: /root/reference/src/outputs/build_correction_file.py:125-305
(builder) and /root/reference/src/core/normalizers.py:279-316 (action
split). The Spark rendering is a composed boolean filter + projection —
one narrow scan-shaped stage, no shuffle until the optional output sort.

Rule: build the corrections over a PERSISTED (or written) engine output.
The selection filter sits above the engine's rule projections, and the
optimizer pushes a filter through a projection by inlining the projected
expressions — over a lazy engine output it re-derives every rule inside
the predicate, and the plan (and every task binary) grows several-fold.
A cached relation is a leaf the filter cannot cross, so each rule is
evaluated once, when the cache is built (``recon_spark.cli`` persists its
engine output for this reason; the registry reads materialized engine
outputs). The action-tab split then needs no second pass either:
:func:`recon_spark.sources.sinks.write_correction_file` writes both tabs
as one ``partitionBy`` write.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import normalizers as N

#: Matrix correction template (build_correction_file.py:226-239)
CORRECTION_COLUMNS = [
    "Transaction Id",
    "Transaction Date",
    "Participant SSN",
    "Participant Name",
    "Matrix Account",
    "Current Tax Code 1",
    "Current Tax Code 2",
    "New Tax Code",
    "New Taxable Amount",
    "New First Year contrib",
    "Reason",
    "Action",
]

_SUGGESTION_COLS = [
    "suggested_tax_code_1",
    "suggested_tax_code_2",
    "suggested_taxable_amt",
    "suggested_first_roth_tax_year",
]


def build_correction_df(
    matches: DataFrame,
    allowed_actions: Iterable[str] | None = ("UPDATE_1099", "INVESTIGATE"),
    sort: bool = True,
) -> DataFrame:
    """F11 + P3: select actionable rows and project to the correction
    template (build_correction_file.py:125-305).

    ``sort=False`` drops the D4 presentation sort, for callers that sort
    later themselves (one ``orderBy`` over a union of engines). A global
    ``orderBy`` is a range-partitioned exchange whose partitioner SAMPLES
    its child first, re-executing everything down to the previous shuffle
    or cache. Over a persisted engine output (see the module docstring)
    that child is a cache scan plus this filter and projection, so the
    sampling pass is cheap and observations below the cache fire once;
    over a lazy engine output it re-runs the engine and double-counts
    any observation on the way."""
    cols = set(matches.columns)

    needs = F.col("match_status").isin("match_needs_correction", "match_needs_review")
    has_suggestion = F.lit(False)
    for c in _SUGGESTION_COLS:
        if c in cols:
            has_suggestion = has_suggestion | F.col(c).isNotNull()

    in_range = F.lit(True)
    if "merge_side" in cols:
        in_range = F.col("merge_side") == "both"
    if "date_within_tolerance" in cols:
        in_range = in_range & F.coalesce(F.col("date_within_tolerance"), F.lit(False))

    if "action" in cols:
        tokens = N.action_tokens("action")
        has_investigate = F.coalesce(
            F.array_contains(tokens, "INVESTIGATE"), F.lit(False)
        )
        has_suggestion = has_suggestion | has_investigate
        if allowed_actions is not None:
            allowed = F.array(
                *[F.lit(str(a).strip().upper()) for a in allowed_actions]
            )
            mask_action = F.coalesce(F.arrays_overlap(tokens, allowed), F.lit(False))
        else:
            mask_action = F.lit(True)
    else:
        mask_action = F.lit(True)

    out = matches.filter(needs & has_suggestion & in_range & mask_action)

    if "participant_name" in cols:
        name = F.col("participant_name")
    elif "full_name" in cols:
        name = F.col("full_name")
    else:
        name = F.lit(None).cast("string")

    taxable = (
        F.col("suggested_taxable_amt").cast("double")
        if "suggested_taxable_amt" in cols
        else F.lit(None).cast("double")
    )
    first_year = (
        F.col("suggested_first_roth_tax_year").cast("long")
        if "suggested_first_roth_tax_year" in cols
        else F.lit(None).cast("long")
    )
    new_code = (
        F.col("new_tax_code")
        if "new_tax_code" in cols
        else N.combined_tax_code("suggested_tax_code_1", "suggested_tax_code_2")
    )

    projected = out.select(
        F.col("transaction_id").alias("Transaction Id"),
        F.col("txn_date").alias("Transaction Date"),
        F.col("ssn").alias("Participant SSN"),
        name.alias("Participant Name"),
        F.col("matrix_account").alias("Matrix Account"),
        F.col("tax_code_1").alias("Current Tax Code 1"),
        F.col("tax_code_2").alias("Current Tax Code 2"),
        new_code.alias("New Tax Code"),
        taxable.alias("New Taxable Amount"),
        first_year.alias("New First Year contrib"),
        F.col("correction_reason").alias("Reason"),
        F.col("action").alias("Action"),
    )
    if sort:
        projected = projected.orderBy(
            "Matrix Account", "Participant SSN", "Transaction Date"
        )
    return projected


def split_corrections_by_action(corrections: DataFrame) -> dict[str, DataFrame]:
    """F10: Correction / Investigate tabs; rows carrying both tokens are
    duplicated into both outputs, and the Action cell is rewritten to the
    tab's single token (normalizers.py:286-316)."""
    tokens = N.action_tokens("Action")
    update = corrections.filter(
        F.coalesce(F.array_contains(tokens, "UPDATE_1099"), F.lit(False))
    ).withColumn("Action", F.lit("UPDATE_1099"))
    investigate = corrections.filter(
        F.coalesce(F.array_contains(tokens, "INVESTIGATE"), F.lit(False))
    ).withColumn("Action", F.lit("INVESTIGATE"))
    return {"Correction": update, "Investigate": investigate}
