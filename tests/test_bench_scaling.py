"""The scaling recorder (``jobs/bench_scaling.record``), without Spark:
each recorded run appends to BENCH/BASELINE.md and never rewrites what is
there; best.json changes only for a better efficiency."""

import json

from jobs.bench_scaling import record


def _report(eff):
    return {"docs": 100, "n_cores": 1, "xn_cores": 4,
            "docs_per_sec_n": 10.0, "docs_per_sec_xn": 40.0 * eff,
            "elapsed_n_sec": 10.0, "elapsed_xn_sec": 2.5 / eff,
            "trials_n_sec": [10.0], "trials_xn_sec": [2.5 / eff],
            "scaling_efficiency": eff, "hw_ceiling_trials": [0.9],
            "mem_ceiling_trials": [0.7], "hw_ceiling": 0.9,
            "normalized_efficiency": round(eff / 0.9, 3),
            "target": 0.8, "pass": eff >= 0.8}


def test_record_appends_and_keeps_the_best(tmp_path):
    prior = "# BENCH/BASELINE\n\n## curated 8→32 disclosure\n\nkept as is\n"
    md = tmp_path / "BASELINE.md"
    md.write_text(prior)
    good, worse = _report(0.9), _report(0.5)

    assert record(good, tmp_path)             # no best.json yet
    assert not record(worse, tmp_path)        # appended, best kept
    text = md.read_text()
    assert text.startswith(prior)
    assert [json.loads(ln[len("Raw: `"):-1]) for ln in text.splitlines()
            if ln.startswith("Raw: `")] == [good, worse]
    assert "N=1 → 4" in text and "cpu [0.9]" in text
    assert json.loads((tmp_path / "best.json").read_text()) == good
