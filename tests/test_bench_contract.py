"""The bench stdout contract: the driver keeps a 2000-char tail of stdout
and json-parses its final line, so the printed line must ALWAYS fit.

Round-4 post-mortem: the r4 line grew past 2000 chars (geom_skew sections +
plan markers inline) and BENCH_r04.json came back ``"parsed": null`` — every
number in the round's headline artifact was lost to the truncated tail.
These tests pin the fix: ``bench.compact_line`` emits <= bench.MAX_LINE
chars for the worst realistic payload, stays valid JSON, and never drops
the spec-required keys (metric/value/unit/queries/sf).
"""

import importlib.util
import json
import os

import pytest

_BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")


def _load_bench():
    spec = importlib.util.spec_from_file_location("bench_mod", _BENCH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


bench = _load_bench()


def _worst_case_report():
    # every timing entry at a 7-char float (99999.999 won't happen; 999.999
    # = a 16-minute query is the realistic ceiling), every extra present
    arms = [
        "img_flagship", "img_skew_broadcast", "img_skew_salted_shuffle",
        "img_skew_unsalted_shuffle", "geom_skew_broadcast",
        "geom_skew_smj_skew_split", "geom_skew_smj_no_split",
        "span_skew_spread", "span_skew_hot", "ann_brute_arm", "ann_ivf_arm",
        "ann_pq_arm",
    ]
    names = list(bench.BENCH_QUERIES) + arms
    return {
        "metric": "spatial-join + tile-assignment + analytics runtime",
        "value": 99999.999,
        "unit": "sec",
        "queries": {n: 999.999 for n in names},
        "queries_control_units": {n: 999.99 for n in names},
        "sf": 0.1,
        "cpus": 32,
        "control_sec": 99.99,
        "flagship_rows_per_sec": 12345678.9,
        "flagship_rows_in": 50000,
        "scaling_headline_pair": "4->16",
        "scaling_efficiency": 0.975,
        "pairs": {"4->16": [0.975, 0.875, 0.908, 0.998, 1.116],
                  "8->32": [0.75, 0.632, 0.848]},
        "pairs_control_efficiency": {"4->16": 0.901, "8->32": 0.874},
        # sidecar-only sections must never leak into the line
        "queries_cold": {n: 999.999 for n in names},
        "skew": {"broadcast": {"samples": [1.0] * 3, "rows": 7_520_296}},
        "geom_skew": {"smj_skew_split": {"skew_plan_marker": "x" * 500}},
        "span_skew": {"hot": {"samples": [1.0] * 3}},
        "ann_compare": {"pq": {"recall": 0.97, "code_bytes": 8}},
    }


def test_line_fits_tail_window():
    line = bench.compact_line(_worst_case_report())
    assert len(line) <= bench.MAX_LINE
    assert "\n" not in line


def test_line_is_json_with_required_keys():
    parsed = json.loads(bench.compact_line(_worst_case_report()))
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in parsed, key
    # all timing entries survive trimming (only extras are dropped)
    assert len(parsed["queries"]) == len(_worst_case_report()["queries"])
    # the sidecar pointer + the normalizer divisor always ride along
    assert parsed["full_report"] == "BENCH/bench_full_latest.json"
    assert parsed["control_sec"] == 99.99
    # heavyweight sections stay in the sidecar only
    for heavy in ("skew", "geom_skew", "span_skew", "ann_compare",
                  "queries_cold"):
        assert heavy not in parsed


def test_r4_regression_shape():
    """The exact r4 failure: a report whose naive dump exceeds 2000 chars
    still emits a parseable sub-2000 line."""
    rep = _worst_case_report()
    assert len(json.dumps(rep)) > 2000  # precondition: naive dump would fail
    line = bench.compact_line(rep)
    assert len(line) <= 2000 - 1  # line + newline inside the tail window
    json.loads(line)


def test_realistic_report_keeps_comparable_control_units():
    """At round-4-shaped timings the line must still carry control units
    for the slowest (cross-round-comparable, >= 1 s) entries — VERDICT r4
    #4 asked for both maps in BENCH_r05.json; slowest-first fitting is how
    both fit the tail window."""
    rep = _worst_case_report()
    slow = {"minhash_pairs_banded": 5.048, "geom_skew_smj_no_split": 7.118,
            "text_winnow_pairs": 3.462, "geo_knn_table": 2.308,
            "text_bm25": 2.026, "img_flagship": 1.896}
    rep["queries"] = {n: slow.get(n, 0.6) for n in rep["queries"]}
    rep["queries_control_units"] = {
        k: round(v / 1.34, 2) for k, v in rep["queries"].items()
    }
    parsed = json.loads(bench.compact_line(rep))
    cu = parsed["queries_control_units"]
    assert set(slow) <= set(cu)  # every slow entry survives
    assert all(rep["queries"][k] >= 1.0 for k in cu)  # only comparable ones
    assert len(json.dumps(parsed)) <= bench.MAX_LINE


def test_trim_is_noop_when_small():
    rep = {"metric": "m", "value": 1.0, "unit": "sec",
           "queries": {"q1": 0.5}, "sf": 0.001, "control_sec": 1.0,
           "pairs": {"4->16": [0.9]}}
    parsed = json.loads(bench.compact_line(rep))
    assert parsed["pairs"] == {"4->16": [0.9]}


def test_hard_guard_pathological_payload():
    """The graduated trims are heuristics; the contract is absolute. A
    payload no heuristic anticipates (hundreds of long-named queries, a
    runaway metric string) must STILL come out <= MAX_LINE valid JSON."""
    rep = _worst_case_report()
    rep["metric"] = "m" * 5000
    rep["queries"] = {f"pathological_query_name_{i:04d}": 999.999
                      for i in range(400)}
    rep["queries_control_units"] = {k: 999.99 for k in rep["queries"]}
    line = bench.compact_line(rep)
    assert len(line) <= bench.MAX_LINE
    parsed = json.loads(line)
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in parsed, key


def test_floor_line_keeps_control_sec():
    """The absolute-floor fallback still carries the normalizer, so control
    units stay derivable from the line alone."""
    rep = _worst_case_report()
    rep["metric"] = "m" * 5000
    parsed = json.loads(bench.compact_line(rep))
    assert parsed["queries"] == {}  # the floor line was taken
    assert parsed["control_sec"] == 99.99


def test_control_units_skip_misfit_keep_later_entries():
    """An entry too long for the room left is skipped, not the end of the
    fill: slower entries after it that do fit are still kept."""
    long_name = "q_" + "x" * 1000
    rep = {"metric": "m", "value": 1.0, "unit": "sec", "sf": 0.1,
           "control_sec": 1.0,
           "queries": {long_name: 9.0, "short": 2.0, "fast": 0.5},
           "queries_control_units": {long_name: 9.0, "short": 2.0, "fast": 0.5}}
    parsed = json.loads(bench.compact_line(rep))
    assert parsed["queries_control_units"] == {"short": 2.0}
    assert len(json.dumps(parsed)) <= bench.MAX_LINE


def test_hard_guard_sheds_fastest_first():
    """When queries alone overflow the line, the fastest entries are shed
    and the slowest (judge-comparable) ones survive."""
    rep = _worst_case_report()
    rep["queries"] = {f"query_with_a_rather_long_name_{i:04d}": 0.1 + i * 0.001
                      for i in range(300)}
    rep.pop("queries_control_units")
    parsed = json.loads(bench.compact_line(rep))
    assert len(parsed["queries"]) < 300
    kept = set(parsed["queries"])
    # the slowest entry always survives; every kept entry is slower than
    # every shed one
    slowest = max(rep["queries"], key=rep["queries"].get)
    assert slowest in kept
    if kept:
        min_kept = min(rep["queries"][k] for k in kept)
        shed = set(rep["queries"]) - kept
        assert all(rep["queries"][s] <= min_kept for s in shed)


def test_emit_writes_sidecar(tmp_path, monkeypatch):
    rep = _worst_case_report()
    # emit() resolves its sidecar dir through the module-level seam —
    # patch THAT, never the process-global os.path
    monkeypatch.setattr(bench, "_bench_dir", lambda: str(tmp_path / "BENCH"))
    line = bench.emit(rep)
    side = tmp_path / "BENCH" / "bench_full_latest.json"
    assert side.exists()
    full = json.loads(side.read_text())
    assert full["queries_control_units"] == rep["queries_control_units"]
    assert full["geom_skew"] == rep["geom_skew"]
    assert len(line) <= bench.MAX_LINE


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
