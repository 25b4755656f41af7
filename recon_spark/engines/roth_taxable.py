"""Engine C — Roth taxable / basis / tax-code analysis.

Reference: /root/reference/src/engines/roth_taxable_analysis.py:106-460.

Spark shape: Roth-scoped matrix facts LEFT JOIN two participant dims
(demographics, Roth basis) on (plan_id, ssn) — both unhinted (participant
dims are customer-cardinality, so AQE/threshold decides broadcast vs
shuffle; a forced hint would OOM at scale); the
per-participant 2025 gross total (reference's groupby+map-back, :169-175)
is a window aggregate ``sum(when(txn_year=2025, gross)) OVER
(PARTITION BY plan_id, ssn)`` so no second shuffle or self-join is needed;
reason/action accumulation (the reference's only row-loop) is ordered
conditional-token arrays — fully vectorized.

Action-string parity: the reference appends tokens in trigger order and
skips duplicates, so the rendered string is the distinct tokens in
first-trigger order; ``F.array_distinct`` preserves exactly that order.

No-action scrub parity (round-1 verdict open question, resolved): the
reference nulls suggested tax codes + correction_reason for ALL no-action
rows, but nulls ``suggested_taxable_amt`` only where
``fed_taxable_amt == 0`` (reference :415-424, the ``.eq(0)`` conjunct) —
this module does exactly the same; no divergence exists.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from typing import TYPE_CHECKING

from ..functions import normalizers as N

if TYPE_CHECKING:
    from ..functions.dateconfig import DateFilterConfig
from .match_planid import INHERITED_PLAN_IDS

#: src/config.py:473-523
QUALIFIED_AGE = (59, 6)
QUALIFIED_YEARS_SINCE_FIRST = 5
BASIS_COVERAGE_YEAR = 2025
TAXABLE_PROXIMITY_PCT = 0.15
VALID_YEAR_MIN, VALID_YEAR_MAX = 1900, 2100
EXCLUDED_CODES_TAXCODE = ["11", "13", "15", "16", "17", "18", "19", "33"]
ROTH_CODE, ROTH_ROLLOVER_CODE, ROLLOVER_CODE, DEATH_CODE = "B", "H", "G", "4"
NORMAL_AGE = (59, 6)
TERM_RULE_AGE = (55, 0)

STATUS_NO_ACTION = "match_no_action"
STATUS_NEEDS_CORRECTION = "match_needs_correction"
STATUS_NEEDS_REVIEW = "match_needs_review"
STATUS_EXCLUDED = "excluded_from_age_engine_rollover_or_inherited"
ACTION_UPDATE, ACTION_INVESTIGATE = "UPDATE_1099", "INVESTIGATE"

OUTPUT_COLUMNS = [  # reference :434-458
    "transaction_id",
    "txn_date",
    "ssn",
    "participant_name",
    "matrix_account",
    "plan_id",
    "tax_code_1",
    "tax_code_2",
    "suggested_tax_code_1",
    "suggested_tax_code_2",
    "new_tax_code",
    "fed_taxable_amt",
    "gross_amt",
    "roth_initial_contribution_year",
    "first_roth_tax_year",
    "start_roth_year",
    "roth_basis_amt",
    "age_at_txn",
    "suggested_taxable_amt",
    "suggested_first_roth_tax_year",
    "correction_reason",
    "action",
    "match_status",
]


def run_roth_taxable_analysis(
    matrix_clean: DataFrame,
    demo_clean: DataFrame,
    roth_basis_clean: DataFrame,
    *,
    date_start: str | None = None,
    date_end: str | None = None,
    months: Sequence[int] | None = None,
    date_filter: "DateFilterConfig | None" = None,
) -> DataFrame:
    from recon_spark.functions.dateconfig import resolve_date_args

    date_start, date_end, months = resolve_date_args(date_filter, date_start, date_end, months)
    df = matrix_clean.filter(
        N.date_filter_mask("txn_date", date_start=date_start, date_end=date_end, months=months)
    )
    # Contract: ``matrix_clean`` is a CLEANED frame, whose plan_id already
    # went through norm_plan_id (operators/cleaning.py). The reference
    # re-normalizes defensively (roth_taxable_analysis.py:117), but
    # norm_plan_id is idempotent (tested), and rewriting the column here
    # would replace it with a derived expression — destroying the
    # (plan_id, ssn) partitioning the cleaner's dedup exchange
    # established, which the A1 window below reuses shuffle-free.
    df = df.filter(
        N.is_roth_plan("plan_id") & ~F.col("plan_id").isin(INHERITED_PLAN_IDS)
    )

    demo = demo_clean.select("plan_id", "ssn", "dob", "term_date")
    basis = roth_basis_clean.select("plan_id", "ssn", "first_roth_tax_year", "roth_basis_amt")
    # two left joins then a window sum over the same (plan_id, ssn) key —
    # with a shuffle join the window reuses the join exchange (co-partition)
    df = df.join(demo, ["plan_id", "ssn"], "left")
    df = df.join(basis, ["plan_id", "ssn"], "left")

    # Every shared subexpression and every rule mask is materialized ONCE
    # as a named helper column (``__*``) and referenced by name, in layered
    # ``withColumns`` batches: a batch reads only columns of earlier batches.
    # A Column variable would inline its whole tree at each use site — the
    # action/reason/suggestion builders reference the masks ~40x — and the
    # optimizer keeps a multiply-referenced non-trivial alias in its own
    # Project, so the names survive optimization as one evaluation each.
    df = df.withColumns({
        "txn_year": F.year("txn_date").cast("long"),
        "term_year": F.year("term_date").cast("long"),
        "age_at_txn": N.age_years("dob", "txn_date"),
        "age_at_termination": N.age_years("dob", "term_date"),
        "first_roth_tax_year": N.to_double_safe("first_roth_tax_year"),
        "roth_initial_contribution_year": N.to_double_safe("roth_initial_contribution_year"),
    })

    # A1: per-participant 2025 gross total as a window aggregate.
    w = Window.partitionBy("plan_id", "ssn")
    df = df.withColumns({
        "__start_year": N.start_year("first_roth_tax_year", "roth_initial_contribution_year"),
        "__code1": F.coalesce(N.norm_tax_code("tax_code_1"), F.lit("")),
        "__code2": F.coalesce(N.norm_tax_code("tax_code_2"), F.lit("")),
        "__att_59_5": N.attained_age_by_year_end(
            "dob", "txn_year", years=NORMAL_AGE[0], months=NORMAL_AGE[1]
        ),
        "__att_qualified": N.attained_age_by_year_end(
            "dob", "txn_year", years=QUALIFIED_AGE[0], months=QUALIFIED_AGE[1]
        ),
        "__att_55_txn": N.attained_age_by_year_end("dob", "txn_year", years=TERM_RULE_AGE[0]),
        "__att_55_term": N.attained_age_by_year_end("dob", "term_year", years=TERM_RULE_AGE[0]),
        "gross_2025_total": F.sum(
            F.when(F.col("txn_year") == BASIS_COVERAGE_YEAR, F.col("gross_amt"))
        ).over(w),
    })

    code1, code2 = F.col("__code1"), F.col("__code2")
    start_year = F.col("__start_year")
    att_59_5 = F.col("__att_59_5")
    att_55_txn = F.col("__att_55_txn")
    att_55_term = F.col("__att_55_term")
    has_term = F.col("term_year").isNotNull()

    df = df.withColumns({
        "__excluded": code1.isin(EXCLUDED_CODES_TAXCODE),
        "__locked": (code1 == ROTH_ROLLOVER_CODE) | ((code1 == ROTH_CODE) & (code2 == DEATH_CODE)),
        "__first_year_valid": (
            F.col("first_roth_tax_year").isNotNull()
            & (F.col("first_roth_tax_year") > 0)
            & F.col("first_roth_tax_year").between(VALID_YEAR_MIN, VALID_YEAR_MAX)
        ),
        "__start_year_valid": (
            start_year.isNotNull()
            & (start_year > 0)
            & start_year.between(VALID_YEAR_MIN, VALID_YEAR_MAX)
        ),
    })
    engine_excluded = F.col("__excluded")
    active = ~engine_excluded
    first_year_valid = F.col("__first_year_valid")
    start_year_valid = F.col("__start_year_valid")

    # Roth tax-code fix rules (reference :197-240); mutually exclusive masks,
    # plus the taxable / basis / year rules (reference :241-313)
    df = df.withColumns({
        "__fix_b_g": (code1 == ROTH_CODE) & (code2 == ROLLOVER_CODE) & active,
        "__fix_g_4": (code1 == ROLLOVER_CODE) & (code2 == DEATH_CODE) & active,
        "__fix_4_blank": (code1 == DEATH_CODE) & (code2 == "") & active,
        "__fix_blank_4": (code2 == DEATH_CODE) & (code1 == "") & active,
        "__fix_g_blank": (code1 == ROLLOVER_CODE) & (code2 == "") & active,
        "__fix_blank_g": (code1 == "") & (code2 == ROLLOVER_CODE) & active,
        "__basis_mask": (
            active
            & F.col("roth_basis_amt").isNotNull()
            & F.col("gross_2025_total").isNotNull()
            & (F.col("roth_basis_amt") >= F.col("gross_2025_total"))
        ),
        "__raw_qualified": (
            active
            & F.col("__att_qualified")
            & start_year_valid
            & F.coalesce(
                (F.col("txn_year") - start_year) >= QUALIFIED_YEARS_SINCE_FIRST, F.lit(False)
            )
        ),
        "__year_change_required": (
            active
            & first_year_valid
            & (
                F.col("roth_initial_contribution_year").isNull()
                | (F.col("roth_initial_contribution_year") != F.col("first_roth_tax_year"))
            )
        ),
        "__missing_first_year": active & ~first_year_valid,
        "__proximity": (
            active
            & F.coalesce(F.col("fed_taxable_amt") > 0, F.lit(False))
            & F.coalesce(
                F.col("gross_amt") <= F.col("fed_taxable_amt") * (1 + TAXABLE_PROXIMITY_PCT),
                F.lit(False),
            )
        ),
        "start_roth_year": F.when(start_year_valid, start_year),
    })
    fix_b_g, fix_g_4 = F.col("__fix_b_g"), F.col("__fix_g_4")
    fix_4_blank, fix_blank_4 = F.col("__fix_4_blank"), F.col("__fix_blank_4")
    fix_g_blank, fix_blank_g = F.col("__fix_g_blank"), F.col("__fix_blank_g")
    basis_mask, raw_qualified = F.col("__basis_mask"), F.col("__raw_qualified")
    year_change_required = F.col("__year_change_required")
    missing_first_year = F.col("__missing_first_year")
    proximity = F.col("__proximity")

    df = df.withColumns({
        "__taxcode_override": (
            fix_b_g | fix_g_4 | fix_4_blank | fix_blank_4 | fix_g_blank | fix_blank_g
        ),
        "suggested_taxable_amt": F.when(basis_mask | raw_qualified, F.lit(0.0)),
        "suggested_first_roth_tax_year": F.when(
            year_change_required, F.col("first_roth_tax_year").cast("long")
        ),
    })
    taxcode_override = F.col("__taxcode_override")
    taxable_suggested = active & F.col("suggested_taxable_amt").isNotNull()

    # Roth age-based expectations (reference :315-357)
    df = df.withColumns({
        "__age_applicable": (
            active
            & ~taxcode_override
            & ~F.col("__locked")
            & F.col("dob").isNotNull()
            & F.col("txn_year").isNotNull()
        ),
        "__taxable_missing_current": taxable_suggested & F.col("fed_taxable_amt").isNull(),
        "__taxable_change_required": (
            taxable_suggested
            & F.col("fed_taxable_amt").isNotNull()
            & (F.abs(F.col("fed_taxable_amt") - F.col("suggested_taxable_amt")) > 0.01)
        ),
    })
    age_applicable = F.col("__age_applicable")
    taxable_missing_current = F.col("__taxable_missing_current")
    taxable_change_required = F.col("__taxable_change_required")

    age_normal = age_applicable & att_59_5
    under_normal = age_applicable & ~age_normal
    df = df.withColumn(
        "__expected_code2",
        F.when(age_normal, "7")
        .when(under_normal & has_term & att_55_term, "2")
        .when(under_normal & has_term & ~att_55_term, "1")
        .when(under_normal & ~has_term & ~att_55_txn, "1")
        .when(under_normal & ~has_term & att_55_txn, "2"),
    )
    expected_code2 = F.col("__expected_code2")
    df = df.withColumn(
        "__age_mismatch",
        age_applicable
        & (
            (code1 != ROTH_CODE)
            | (expected_code2.isNotNull() & (code2 != F.coalesce(expected_code2, F.lit(""))))
        ),
    )
    age_mismatch = F.col("__age_mismatch")
    age_rule = age_mismatch & expected_code2.isNotNull()

    fix_suggested_1 = (
        F.when(fix_b_g | fix_g_blank | fix_blank_g | fix_g_4, ROTH_ROLLOVER_CODE)
        .when(fix_4_blank | fix_blank_4, ROTH_CODE)
    )
    fix_suggested_2 = F.when(fix_g_4 | fix_4_blank | fix_blank_4, DEATH_CODE)
    df = df.withColumns({
        "suggested_tax_code_1": F.when(taxcode_override, fix_suggested_1).when(
            age_mismatch, ROTH_CODE
        ),
        "suggested_tax_code_2": F.when(taxcode_override, fix_suggested_2).otherwise(
            F.when(age_rule, expected_code2)
        ),
        # ordered action tokens; the tax-code fix rules append UPDATE_1099
        # first (reference :204-231), then :301-313 and :358 in source order
        "__actions": N.conditional_tokens(
            (taxcode_override, ACTION_UPDATE),
            (year_change_required, ACTION_UPDATE),
            (taxable_missing_current, ACTION_INVESTIGATE),
            (missing_first_year, ACTION_INVESTIGATE),
            (taxable_change_required, ACTION_UPDATE),
            (proximity, ACTION_INVESTIGATE),
            (age_mismatch, ACTION_UPDATE),
        ),
        # ordered reason tokens (reference :205-230 fixes, then :361-393)
        "__reasons": N.conditional_tokens(
            (fix_b_g, "roth_rollover_code_fix_B_G_to_H"),
            (fix_g_4, "roth_rollover_code_fix_G_4_to_H_4"),
            (fix_4_blank, "roth_death_code_fix_4_to_B_4"),
            (fix_blank_4, "roth_death_code_fix_blank_4_to_B_4"),
            (fix_g_blank, "roth_rollover_code_fix_G_blank_to_H"),
            (fix_blank_g, "roth_rollover_code_fix_blank_G_to_H"),
            (year_change_required, "roth_initial_year_mismatch"),
            (missing_first_year, "missing_first_roth_tax_year"),
            (basis_mask, "roth_basis_covers_2025_total"),
            (raw_qualified, "qualified_roth_distribution"),
            (taxable_missing_current, "missing_fed_taxable_amt"),
            (proximity, "taxable_within_15pct_of_gross"),
            (age_mismatch, "roth_age_tax_code_mismatch"),
            (age_rule & att_59_5, "roth_age_rule_attained_59_5_in_txn_year_expect_B7"),
            (
                age_rule & ~att_59_5 & has_term & att_55_term,
                "roth_age_rule_attained_55_in_term_year_expect_B2",
            ),
            (
                age_rule & ~att_59_5 & has_term & ~att_55_term,
                "roth_age_rule_under_55_in_term_year_expect_B1",
            ),
            (
                age_rule & ~att_59_5 & ~has_term & att_55_txn,
                "roth_age_rule_attained_55_in_txn_year_no_term_expect_B2",
            ),
            (
                age_rule & ~att_59_5 & ~has_term & ~att_55_txn,
                "roth_age_rule_under_55_in_txn_year_no_term_expect_B1",
            ),
        ),
    })

    has_update = F.array_contains(F.col("__actions"), ACTION_UPDATE)
    has_investigate = F.array_contains(F.col("__actions"), ACTION_INVESTIGATE)
    df = df.withColumn(
        "match_status",
        F.when(engine_excluded, STATUS_EXCLUDED)
        .when(has_update, STATUS_NEEDS_CORRECTION)
        .when(has_investigate, STATUS_NEEDS_REVIEW)
        .otherwise(STATUS_NO_ACTION),
    )
    no_action = F.col("match_status") == STATUS_NO_ACTION
    df = df.withColumns({
        "action": N.render_actions(F.col("__actions")),
        "correction_reason": F.when(~no_action, N.render_reasons(F.col("__reasons"))),
        "suggested_tax_code_1": F.when(~no_action, F.col("suggested_tax_code_1")),
        "suggested_tax_code_2": F.when(~no_action, F.col("suggested_tax_code_2")),
        "suggested_taxable_amt": F.when(
            no_action & (F.col("fed_taxable_amt") == 0), F.lit(None).cast("double")
        ).otherwise(F.col("suggested_taxable_amt")),
        "first_roth_tax_year": F.col("first_roth_tax_year").cast("long"),
        "roth_initial_contribution_year": F.col("roth_initial_contribution_year").cast("long"),
    })
    df = df.withColumn(
        "new_tax_code", N.combined_tax_code("suggested_tax_code_1", "suggested_tax_code_2")
    )
    return df.select(*OUTPUT_COLUMNS)
