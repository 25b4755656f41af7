"""Engine golden-frame tests, ported from the reference suite
(/root/reference/tests/pipelines/test_new_tax_code_unified.py:10-351,
tests/ira_rollover/test_ira_rollover_analysis.py:7-163)."""

from __future__ import annotations

import datetime

from recon_spark.engines.age_taxcode import run_age_taxcode_analysis
from recon_spark.engines.ira_rollover import run_ira_rollover_analysis
from recon_spark.engines.match_planid import reconcile_relius_matrix
from recon_spark.engines.roth_taxable import run_roth_taxable_analysis

D = datetime.date


def _relius(spark, **over):
    row = {
        "plan_id": "300004PLAT",
        "ssn": "123456780",
        "gross_amt": 100.0,
        "exported_date": D(2025, 1, 1),
        "dist_category_relius": "rollover",
    }
    row.update(over)
    return spark.createDataFrame(
        [tuple(row.values())],
        "plan_id string, ssn string, gross_amt double, exported_date date, dist_category_relius string",
    )


def _matrix_a(spark, **over):
    row = {
        "plan_id": "300004PLAT",
        "ssn": "123456780",
        "gross_amt": 100.0,
        "txn_date": D(2025, 1, 5),
        "transaction_id": "tx1",
        "tax_code_1": "7",
        "tax_code_2": None,
    }
    row.update(over)
    return spark.createDataFrame(
        [tuple(row.values())],
        "plan_id string, ssn string, gross_amt double, txn_date date, "
        "transaction_id string, tax_code_1 string, tax_code_2 string",
    )


# --- Engine A -----------------------------------------------------------------

def test_engine_a_sets_new_tax_code_4g(spark):
    out = reconcile_relius_matrix(_relius(spark), _matrix_a(spark)).collect()[0]
    assert out["match_status"] == "match_needs_correction"
    assert out["new_tax_code"] == "4G"
    assert out["correction_reason"] == "inherited_rollover_expected_G_and_4"
    assert out["action"] == "UPDATE_1099"


def test_engine_a_cash_expects_4_only(spark):
    out = reconcile_relius_matrix(
        _relius(spark, dist_category_relius="final_cash"), _matrix_a(spark)
    ).collect()[0]
    assert out["new_tax_code"] == "4"
    assert out["correction_reason"] == "inherited_cash_expected_4"


def test_engine_a_no_action_clears_suggestions(spark):
    out = reconcile_relius_matrix(
        _relius(spark), _matrix_a(spark, tax_code_1="4", tax_code_2="G")
    ).collect()[0]
    assert out["match_status"] == "match_no_action"
    assert out["suggested_tax_code_1"] is None
    assert out["suggested_tax_code_2"] is None
    assert out["new_tax_code"] is None


def test_engine_a_date_out_of_range(spark):
    out = reconcile_relius_matrix(
        _relius(spark), _matrix_a(spark, txn_date=D(2025, 2, 1))
    ).collect()[0]
    assert out["match_status"] == "date_out_of_range"
    assert out["date_within_tolerance"] is False
    assert out["date_lag_days"] == 31


def test_engine_a_unmatched_sides(spark):
    out = reconcile_relius_matrix(
        _relius(spark), _matrix_a(spark, ssn="999999990")
    )
    statuses = {r["ssn"]: r["match_status"] for r in out.collect()}
    assert statuses["123456780"] == "unmatched_relius"
    assert statuses["999999990"] == "unmatched_matrix"


def test_engine_a_plan_scope_filters_non_inherited(spark):
    out = reconcile_relius_matrix(
        _relius(spark, plan_id="600002XY"), _matrix_a(spark, plan_id="600002XY")
    )
    assert out.count() == 0


def test_engine_a_date_filter_kwargs(spark):
    out = reconcile_relius_matrix(
        _relius(spark), _matrix_a(spark), date_start="2025-02-01"
    )
    assert out.count() == 0


def test_engine_a_date_filter_config_object(spark):
    from recon_spark.functions.dateconfig import DateFilterConfig

    # fixture dates are January 2025: month-name filter keeps them...
    kept = reconcile_relius_matrix(
        _relius(spark), _matrix_a(spark),
        date_filter=DateFilterConfig(months=["January"]),
    )
    # ...and an explicit config wins over raw kwargs
    dropped = reconcile_relius_matrix(
        _relius(spark), _matrix_a(spark),
        date_start="2020-01-01",  # overridden by the config below
        date_filter=DateFilterConfig(months=["July"]),
    )
    assert kept.count() > 0
    assert dropped.count() == 0


# --- Engine B -----------------------------------------------------------------

def _matrix_b(spark, **over):
    row = {
        "plan_id": "200001A",
        "ssn": "123456780",
        "txn_date": D(2025, 6, 1),
        "transaction_id": "tx2",
        "participant_name": "Alex",
        "matrix_account": "acct2",
        "gross_amt": 100.0,
        "tax_code_1": "7",
        "tax_code_2": None,
    }
    row.update(over)
    return spark.createDataFrame(
        [tuple(row.values())],
        "plan_id string, ssn string, txn_date date, transaction_id string, "
        "participant_name string, matrix_account string, gross_amt double, "
        "tax_code_1 string, tax_code_2 string",
    )


def _demo(spark, dob, term=None, plan_id="200001A", ssn="123456780"):
    return spark.createDataFrame(
        [(plan_id, ssn, dob, term, "Alex", "Tester")],
        "plan_id string, ssn string, dob date, term_date date, "
        "first_name string, last_name string",
    )


def test_engine_b_under_55_no_term_gets_1(spark):
    out = run_age_taxcode_analysis(_matrix_b(spark), _demo(spark, D(1971, 7, 1))).collect()[0]
    assert out["new_tax_code"] == "1"
    assert out["match_status"] == "match_needs_correction"
    assert out["correction_reason"] == "no_term_date_under_55_in_txn_year"


def test_engine_b_no_action_clears_fields(spark):
    out = run_age_taxcode_analysis(_matrix_b(spark), _demo(spark, D(1960, 1, 1))).collect()[0]
    assert out["match_status"] == "match_no_action"
    assert out["correction_reason"] is None
    assert out["suggested_tax_code_1"] is None
    assert out["new_tax_code"] is None


def test_engine_b_term_rules(spark):
    # terminated at/after 55 -> "2"
    out = run_age_taxcode_analysis(
        _matrix_b(spark), _demo(spark, D(1969, 1, 1), term=D(2024, 6, 1))
    ).collect()[0]
    assert out["suggested_tax_code_1"] == "2"
    assert out["correction_reason"] == "terminated_at_or_after_55"
    # terminated before 55 -> "1"
    out = run_age_taxcode_analysis(
        _matrix_b(spark), _demo(spark, D(1980, 1, 1), term=D(2024, 6, 1))
    ).collect()[0]
    assert out["suggested_tax_code_1"] == "1"
    assert out["correction_reason"] == "terminated_before_55"


def test_engine_b_excludes_rollover_codes_and_roth_plans(spark):
    out = run_age_taxcode_analysis(
        _matrix_b(spark, tax_code_1="G"), _demo(spark, D(1971, 7, 1))
    ).collect()[0]
    assert out["match_status"] == "excluded_from_age_engine_rollover_or_inherited"
    # Roth plans are dropped entirely
    out = run_age_taxcode_analysis(
        _matrix_b(spark, plan_id="300005R01"),
        _demo(spark, D(1971, 7, 1), plan_id="300005R01"),
    )
    assert out.count() == 0


def test_engine_b_missing_dob_insufficient(spark):
    out = run_age_taxcode_analysis(_matrix_b(spark), _demo(spark, None)).collect()[0]
    assert out["match_status"] == "age_rule_insufficient_data"


def test_engine_b_name_fallback(spark):
    out = run_age_taxcode_analysis(
        _matrix_b(spark, participant_name=None), _demo(spark, D(1960, 1, 1))
    ).collect()[0]
    assert out["full_name"] == "Alex Tester"


# --- Engine C -----------------------------------------------------------------

def _matrix_c(spark, **over):
    row = {
        "plan_id": "300005A",
        "ssn": "123456780",
        "txn_date": D(2025, 3, 1),
        "transaction_id": "tx3",
        "participant_name": "Roth",
        "matrix_account": "acct3",
        "gross_amt": 150.0,
        "fed_taxable_amt": 50.0,
        "roth_initial_contribution_year": 2015,
        "tax_code_1": "B",
        "tax_code_2": "G",
    }
    row.update(over)
    return spark.createDataFrame(
        [tuple(row.values())],
        "plan_id string, ssn string, txn_date date, transaction_id string, "
        "participant_name string, matrix_account string, gross_amt double, "
        "fed_taxable_amt double, roth_initial_contribution_year long, "
        "tax_code_1 string, tax_code_2 string",
    )


def _demo_c(spark, dob, term=None):
    return spark.createDataFrame(
        [("300005A", "123456780", dob, term)],
        "plan_id string, ssn string, dob date, term_date date",
    )


def _basis_c(spark, first_year=2010, basis=500.0):
    return spark.createDataFrame(
        [("300005A", "123456780", first_year, basis)],
        "plan_id string, ssn string, first_roth_tax_year long, roth_basis_amt double",
    )


def test_engine_c_b_g_fix_to_h(spark):
    out = run_roth_taxable_analysis(
        _matrix_c(spark), _demo_c(spark, D(1970, 1, 1)), _basis_c(spark)
    ).collect()[0]
    assert out["new_tax_code"] == "H"
    assert out["match_status"] == "match_needs_correction"


def test_engine_c_no_action_scrubs_everything(spark):
    out = run_roth_taxable_analysis(
        _matrix_c(
            spark,
            gross_amt=100.0,
            fed_taxable_amt=0.0,
            roth_initial_contribution_year=2010,
            tax_code_1="B",
            tax_code_2="1",
        ),
        _demo_c(spark, D(1980, 1, 1)),
        _basis_c(spark, first_year=2010, basis=200.0),
    ).collect()[0]
    assert out["match_status"] == "match_no_action"
    assert out["correction_reason"] is None
    assert out["suggested_tax_code_1"] is None
    assert out["suggested_tax_code_2"] is None
    assert out["new_tax_code"] is None
    assert out["suggested_taxable_amt"] is None


def test_engine_c_age_rule_b1(spark):
    out = run_roth_taxable_analysis(
        _matrix_c(spark, tax_code_1="7", tax_code_2=None),
        _demo_c(spark, D(1978, 1, 1)),
        _basis_c(spark),
    ).collect()[0]
    assert out["new_tax_code"] == "B1"


def test_engine_c_qualified_suggests_zero_taxable(spark):
    # 59.5 attained + 5 years since start -> suggested taxable 0,
    # current 50 -> change required
    out = run_roth_taxable_analysis(
        _matrix_c(spark, tax_code_1="H", tax_code_2=None),
        _demo_c(spark, D(1950, 1, 1)),
        _basis_c(spark, first_year=2010, basis=10.0),
    ).collect()[0]
    assert out["suggested_taxable_amt"] == 0.0
    assert out["match_status"] == "match_needs_correction"
    assert "qualified_roth_distribution" in out["correction_reason"]


def test_engine_c_year_mismatch_suggests_first_year(spark):
    out = run_roth_taxable_analysis(
        _matrix_c(spark, tax_code_1="H", tax_code_2=None, fed_taxable_amt=0.0),
        _demo_c(spark, D(1990, 1, 1)),
        _basis_c(spark, first_year=2010, basis=None),
    ).collect()[0]
    assert out["suggested_first_roth_tax_year"] == 2010
    assert "roth_initial_year_mismatch" in out["correction_reason"]


def test_engine_c_excluded_codes(spark):
    out = run_roth_taxable_analysis(
        _matrix_c(spark, tax_code_1="11", tax_code_2=None),
        _demo_c(spark, D(1970, 1, 1)),
        _basis_c(spark),
    ).collect()[0]
    assert out["match_status"] == "excluded_from_age_engine_rollover_or_inherited"


def test_engine_c_proximity_review(spark):
    # taxable>0 and gross within 15% of taxable -> INVESTIGATE
    out = run_roth_taxable_analysis(
        _matrix_c(
            spark,
            gross_amt=110.0,
            fed_taxable_amt=100.0,
            tax_code_1="H",
            tax_code_2=None,
            roth_initial_contribution_year=2010,
        ),
        _demo_c(spark, D(1990, 1, 1)),
        _basis_c(spark, first_year=2010, basis=None),
    ).collect()[0]
    assert "taxable_within_15pct_of_gross" in out["correction_reason"]
    assert "INVESTIGATE" in out["action"]


# --- Engine D -----------------------------------------------------------------

def _matrix_d(spark, **over):
    row = {
        "plan_id": "300001IRA",
        "ssn": "123456780",
        "gross_amt": 100.0,
        "txn_date": D(2025, 3, 1),
        "transaction_id": "tx4",
        "matrix_account": "acct4",
        "participant_name": "Ira",
        "txn_method": "Check Distribution",
        "federal_taxing_method": "Rollover",
        "tax_form": "No Tax",
        "tax_code_1": "G",
        "tax_code_2": None,
    }
    row.update(over)
    return spark.createDataFrame(
        [tuple(row.values())],
        "plan_id string, ssn string, gross_amt double, txn_date date, "
        "transaction_id string, matrix_account string, participant_name string, "
        "txn_method string, federal_taxing_method string, tax_form string, "
        "tax_code_1 string, tax_code_2 string",
    )


def test_engine_d_rollover_no_tax_is_no_action(spark):
    out = run_ira_rollover_analysis(_matrix_d(spark)).collect()[0]
    assert out["match_status"] == "match_no_action"
    assert out["action"] is None


def test_engine_d_rollover_1099r_needs_correction(spark):
    out = run_ira_rollover_analysis(_matrix_d(spark, tax_form="1099-R")).collect()[0]
    assert out["match_status"] == "match_needs_correction"
    assert out["new_tax_code"] == "0"
    assert out["suggested_tax_code_1"] == "0"
    assert out["correction_reason"] == "ira_rollover_tax_form_1099r_expected_no_tax"


def test_engine_d_review_reasons(spark):
    out = run_ira_rollover_analysis(
        _matrix_d(spark, federal_taxing_method=None, tax_form="Other Form")
    ).collect()[0]
    assert out["match_status"] == "match_needs_review"
    assert out["action"] == "INVESTIGATE"
    assert out["correction_reason"] == "missing_federal_taxing_method; unrecognized_tax_form"


def test_engine_d_scope_filters(spark):
    # wrong txn method
    assert run_ira_rollover_analysis(_matrix_d(spark, txn_method="ACH")).count() == 0
    # non-IRA plan
    assert run_ira_rollover_analysis(_matrix_d(spark, plan_id="600002XY")).count() == 0
    # no G/H code
    assert (
        run_ira_rollover_analysis(
            _matrix_d(spark, tax_code_1="7", tax_code_2=None)
        ).count()
        == 0
    )
    # case/space-insensitive method matches
    assert (
        run_ira_rollover_analysis(_matrix_d(spark, txn_method="check  distribution ")).count()
        == 1
    )


def test_engine_c_plan_stays_small(spark):
    """Engine C materializes every rule mask as a named column, so the
    optimized plan holds each rule once instead of inlining it at every
    use site. Over the sf0.001 clean tables the inlined form measured
    75-78 K characters, the layered form about 15 K."""
    from recon_spark.registry import clean_tables

    t = clean_tables(spark, "/root/testdata/sf0.001")
    out = run_roth_taxable_analysis(t["matrix"], t["demo"], t["basis"])
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 40_000, len(plan)
