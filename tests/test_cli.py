"""End-to-end CLI test (reference build_correction_file.py:367-420 parity)."""

import pytest

from recon_spark import cli

SF = "/root/testdata/sf0.001"


def test_cli_end_to_end(spark, tmp_path, capsys):
    rc = cli.main(["--sf-dir", SF, "--out", str(tmp_path / "corr"), "--cpus", "8"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "Corrections written to:" in out
    assert "Total corrections:" in out
    n = int(out.strip().rsplit(" ", 1)[-1])
    assert n > 0
    written = spark.read.parquet(str(tmp_path / "corr"))
    assert written.count() >= n  # both-token rows duplicated across tabs
    assert "Tab" in written.columns


def test_cli_month_filter_and_no_rules(spark, tmp_path, capsys):
    rc = cli.main(
        [
            "--sf-dir", SF,
            "--out", str(tmp_path / "corr2"),
            "--months", "Jan,feb,3",
            "--no-business-rules",
            "--cpus", "8",
        ]
    )
    assert rc == 0
    # without business rules nothing is actionable -> zero corrections
    assert "Total corrections: 0" in capsys.readouterr().out


def _printed_total(out: str) -> int:
    line = [l for l in out.splitlines() if l.startswith("Total corrections:")][0]
    return int(line.rsplit(" ", 1)[-1])


def test_cli_engine_selection(spark, tmp_path, capsys):
    """The printed total (observed on the sink write) equals the
    correction count built independently from each engine's output."""
    from recon_spark.engines import age_taxcode, ira_rollover, match_planid, roth_taxable
    from recon_spark.operators import cleaning
    from recon_spark.plans.corrections import build_correction_df
    from recon_spark.sources import fixtures

    matrix = cleaning.clean_matrix(fixtures.matrix_raw(spark, SF))
    demo = cleaning.clean_relius_demo(fixtures.relius_demo_raw(spark, SF))
    engines = {
        "a": lambda: match_planid.reconcile_relius_matrix(
            cleaning.clean_relius(fixtures.relius_raw(spark, SF)), matrix
        ),
        "b": lambda: age_taxcode.run_age_taxcode_analysis(matrix, demo),
        "c": lambda: roth_taxable.run_roth_taxable_analysis(
            matrix, demo, cleaning.clean_roth_basis(fixtures.roth_basis_raw(spark, SF))
        ),
        "d": lambda: ira_rollover.run_ira_rollover_analysis(matrix),
    }
    for engine, run in engines.items():
        rc = cli.main(
            ["--sf-dir", SF, "--engine", engine,
             "--out", str(tmp_path / f"corr_{engine}"), "--cpus", "8"]
        )
        assert rc == 0
        total = _printed_total(capsys.readouterr().out)
        assert total > 0
        assert total == build_correction_df(run()).count(), engine


def test_cli_releases_what_it_caches(spark, tmp_path, monkeypatch):
    """cli.main unpersists the engine output it caches, on success and
    when the run fails."""
    from recon_spark.sources import sinks

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    assert cli.main(
        ["--sf-dir", SF, "--engine", "c", "--out", str(tmp_path / "corr"), "--cpus", "8"]
    ) == 0
    assert persisted().size() == before

    def failing_write(corrections, path, fmt="parquet"):
        corrections.count()  # materializes the cached engine output
        raise RuntimeError("sink failed")

    monkeypatch.setattr(sinks, "write_correction_file", failing_write)
    with pytest.raises(RuntimeError, match="sink failed"):
        cli.main(["--sf-dir", SF, "--out", str(tmp_path / "corr_f"), "--cpus", "8"])
    assert persisted().size() == before


def test_cli_manifest_audit_trail(spark, tmp_path, capsys):
    """--manifest writes the Observation-collected audit JSON whose
    corrections count equals the printed deliverable total."""
    import json

    mf_path = str(tmp_path / "manifest.json")
    rc = cli.main(
        ["--sf-dir", SF, "--out", str(tmp_path / "corr_mf"),
         "--manifest", mf_path, "--cpus", "8"]
    )
    assert rc == 0
    total = _printed_total(capsys.readouterr().out)
    report = json.load(open(mf_path))
    stages = report["stages"]
    assert all(s["collected"] for s in stages.values())
    assert stages["corrections"]["n_rows"] == total
    assert stages["corrections"]["n_update_1099"] + stages["corrections"]["n_investigate"] >= total
    assert stages["relius_clean"]["n_rows"] > 0 and "invalid_ssn" in stages["relius_clean"]


def test_cli_figures_option(spark, tmp_path, capsys):
    """--figures writes one spec JSON per engine figure (the ported
    plot_* layer's CLI deliverable), alongside the correction file."""
    import json
    import os

    from recon_spark.plans.figures import ENGINE_FIGURES

    fig_dir = str(tmp_path / "figs")
    rc = cli.main(
        [
            "--sf-dir", SF,
            "--out", str(tmp_path / "corr_f"),
            "--engine", "c",
            "--figures", fig_dir,
            "--cpus", "8",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert out.count("Figure spec written to:") == len(ENGINE_FIGURES["c"])
    for name in ENGINE_FIGURES["c"]:
        with open(os.path.join(fig_dir, f"{name}.json")) as fh:
            spec = json.load(fh)
        assert spec["title"] and "kind" in spec
