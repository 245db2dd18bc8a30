"""scripts/qtime.py, the registry timing CLI, run in process on one cheap
entry per mode with a stub calibration probe."""

import os

import pytest

from tests.conftest import SF_SMOKE as SF001

SF01 = os.path.join(os.path.dirname(SF001), "sf0.01")
ENTRY = "agg_count_distinct"


@pytest.fixture(scope="module")
def qtime_and_queries():
    import __spark_entry__ as entrymod
    from scripts import qtime

    return qtime, entrymod.queries()


def _probe_counter():
    calls = []

    def probe(spark):
        calls.append(spark)
        return 0.5

    return probe, calls


def test_time_mode_fences_every_pass(spark, qtime_and_queries):
    qtime, qs = qtime_and_queries
    probe, calls = _probe_counter()
    out = qtime.run(spark, qs, [ENTRY], [SF001], 2, probe=probe)
    assert set(out) == {"sf_dirs", "runs", "samples", "medians", "totals", "probes"}
    assert out["probes"] == [0.5] * 3 and len(calls) == 3  # one before, one per pass
    samples = out["samples"][SF001][ENTRY]
    assert len(samples) == 2 and out["medians"][SF001][ENTRY] == max(samples)
    assert out["totals"] == {SF001: out["medians"][SF001][ENTRY]}


def test_slope_mode_reports_ratio(spark, qtime_and_queries):
    qtime, qs = qtime_and_queries
    probe, calls = _probe_counter()
    out = qtime.run(spark, qs, [ENTRY], [SF001, SF01], 1, probe=probe)
    assert {"ratio", "flagged_over_10x"} <= set(out)
    assert len(calls) == 3  # before, after the small pass, after the big pass
    small, big = out["medians"][SF001][ENTRY], out["medians"][SF01][ENTRY]
    assert out["ratio"][ENTRY] == round(big / small, 2)
    assert out["flagged_over_10x"] == ([ENTRY] if out["ratio"][ENTRY] > 10 else [])


def test_plan_mode_writes_plans_without_timing(spark, qtime_and_queries, tmp_path):
    qtime, qs = qtime_and_queries
    probe, calls = _probe_counter()
    out = qtime.run(spark, qs, [ENTRY, "no_such_entry"], [SF01], 0,
                    explain_dir=str(tmp_path), probe=probe)
    assert calls == [] and "samples" not in out
    plan = out["plan"]
    assert set(plan) == {
        "sf_dir", "n_entries", "n_ok", "n_error", "totals",
        "entries_with_batch_eval_python", "entries_with_cartesian",
        "top_plan_lines", "top_exchanges", "entries"}
    assert (plan["n_entries"], plan["n_ok"], plan["n_error"]) == (2, 1, 1)
    assert plan["entries"]["no_such_entry"] == {"error": "KeyError: 'no_such_entry'"}
    counts = plan["entries"][ENTRY]
    assert set(counts) == set(qtime.PATTERNS) | {"plan_lines", "pushed_filters"}
    txt = (tmp_path / f"{ENTRY}.txt").read_text()
    assert counts["plan_lines"] == txt.count("\n") + 1
    assert counts["exchange"] > 0 and "Exchange" in txt
    assert os.listdir(tmp_path) == [f"{ENTRY}.txt"]


def test_cli_rejects_bad_arguments(capsys):
    from scripts import qtime

    for argv in (["--sf", SF001, "--sf", SF01, "--sf", "/x/sf1"],
                 ["--sf", SF001, "--sf", SF001],
                 ["--sf", SF001, "--runs", "0"]):
        with pytest.raises(SystemExit):
            qtime.main(argv)
    err = capsys.readouterr().err
    assert err.count("give one --sf") == 2 and "--runs must be positive" in err
