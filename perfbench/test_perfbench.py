"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import checks  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402
import workloads as wl  # noqa: E402

from sumi_agent_spark.functions.oracle import scrub_text  # noqa: E402
from sumi_agent_spark.functions.quality import quality_frame  # noqa: E402

SHARES = {"exact": 0.1, "near": 0.1, "contam": 0.02}


def _bytes_of(directory: Path) -> dict:
    return {p.name: p.read_bytes() for p in sorted(directory.iterdir())}


def test_same_seed_same_bytes_and_second_seed_differs(tmp_path):
    written = {}
    for tag, seed in (("a", 3), ("b", 3), ("c", 4)):
        evals = wl.eval_rows(seed)
        table = wl.curation_table(seed, 600, SHARES, evals)
        wl.write_table(table.frame, tmp_path / tag / "in", 3)
        wl.write_table(evals, tmp_path / tag / "eval", 1)
        written[tag] = (_bytes_of(tmp_path / tag / "in"), _bytes_of(tmp_path / tag / "eval"),
                        table.planted)
    assert written["a"] == written["b"]
    assert written["a"][0] != written["c"][0]
    assert all(written["c"][2][k] for k in SHARES)


def test_daily_slices_are_deterministic_and_planted():
    a = wl.daily_tables(5, 2, 400, {"cross_near": 0.1, "near": 0.05, "reexport": 0.05})
    b = wl.daily_tables(5, 2, 400, {"cross_near": 0.1, "near": 0.05, "reexport": 0.05})
    assert len(a) == 3
    for ta, tb in zip(a, b):
        pd.testing.assert_frame_equal(ta.frame, tb.frame)
        assert ta.planted == tb.planted
    for t in a[1:]:
        assert t.planted["cross_near"] and t.planted["near"] and t.planted["reexport"]
        keys = list(zip(t.frame["conv_id"], t.frame["turn_idx"]))
        assert len(keys) == len(set(keys))


def test_near_copies_stay_near_and_tails_make_texts_distinct():
    table = wl.bulk_table(9, 2000)
    assert 0.85 <= wl.distinct_text_frac(table.frame["text"]) <= 0.95
    rng = wl.random.Random(1)
    for text in table.frame["text"].iloc[wl.eligible(table.frame)[:50]]:
        copy = wl.near_copy(text, rng)
        assert copy != text and wl.jaccard(text, copy) >= wl.NEAR_MIN_JACCARD


def _correct_output(frame: pd.DataFrame, keep_keys: set, out_dir: Path) -> None:
    """What a correct pipeline writes for ``frame`` restricted to ``keep_keys``."""
    rows = frame[[(c, int(t)) in keep_keys
                  for c, t in zip(frame["conv_id"], frame["turn_idx"])]].reset_index(drop=True)
    q = quality_frame(rows["text"], rows["role"])
    scrubbed = [scrub_text(t) for t in rows["text"].fillna("")]
    out = pd.DataFrame({
        "conv_id": rows["conv_id"], "turn_idx": rows["turn_idx"],
        "masked_text": [m for m, _ in scrubbed],
        "n_detections": [len(d) for _, d in scrubbed],
        "lang": q["lang"], "keep": q["keep"], "drop_reason": q["drop_reason"],
    })
    out_dir.mkdir(parents=True)
    out.to_parquet(out_dir / "part-0.parquet", index=False)
    (out_dir / "_lineage").mkdir()
    pd.DataFrame([{"stage": "scrub", "n_turns": len(out)}]).to_parquet(
        out_dir / "_lineage" / "part-0.parquet", index=False)


def _curation_case(n=300):
    table = wl.curation_table(7, n, SHARES, wl.eval_rows(7))
    natural = wl.natural_duplicates([table], wl.dedup_key)[0]
    keys = set(zip(table.frame["conv_id"], table.frame["turn_idx"].astype(int)))
    keep = keys - table.planted_keys - natural
    exp = checks.Expectation(frame=table.frame, planted=table.planted, natural=natural)
    texts = [wl.dedup_key(t) for t in table.frame["text"]]
    exp.n_exact_dups = len(texts) - len(set(texts))
    gate_drops = len(keys) - len(keep) - exp.n_exact_dups
    return table, exp, keep, gate_drops


def test_checks_pass_on_correct_output(tmp_path):
    table, exp, keep, gate_drops = _curation_case()
    _correct_output(table.frame, keep, tmp_path / "out")
    res = checks.check_call(tmp_path / "out", exp, checks.OracleCache(), gate_drops)
    assert res["ok"], res["problems"]
    assert res["planted_dropped"] == res["planted"] and res["false_drops"] == 0


def test_corrupted_row_trips_oracle_check(tmp_path):
    table, exp, keep, gate_drops = _curation_case()
    _correct_output(table.frame, keep, tmp_path / "out")
    path = tmp_path / "out" / "part-0.parquet"
    out = pd.read_parquet(path)
    out.loc[len(out) // 2, "masked_text"] += "x"
    out.to_parquet(path, index=False)
    res = checks.check_call(tmp_path / "out", exp, checks.OracleCache(), gate_drops)
    assert not res["ok"] and res["oracle_mismatches"] == 1


def test_surviving_planted_duplicate_trips_recall_and_accounting(tmp_path):
    table, exp, keep, gate_drops = _curation_case()
    survivor = sorted(table.planted["exact"])[0]
    _correct_output(table.frame, keep | {survivor}, tmp_path / "out")
    res = checks.check_call(tmp_path / "out", exp, checks.OracleCache(), gate_drops)
    assert not res["ok"]
    assert any(p.startswith("exact recall") for p in res["problems"])
    assert any(p.startswith("row accounting") for p in res["problems"])


def test_dropped_unplanted_turn_trips_false_drop_check(tmp_path):
    table, exp, keep, gate_drops = _curation_case()
    victim = sorted(keep)[0]
    _correct_output(table.frame, keep - {victim}, tmp_path / "out")
    res = checks.check_call(tmp_path / "out", exp, checks.OracleCache(), gate_drops + 1)
    assert not res["ok"] and res["false_drops"] == 1


def test_metric_names_and_units_match_benchmark_json():
    name_re = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
    unit_re = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    for name, unit in {**run.END_TO_END, **run.PER_LAYER}.items():
        assert name_re.fullmatch(name), name
        assert unit_re.fullmatch(unit), unit
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_rss_sampler_uses_one_thread_and_sees_this_process():
    before = threading.active_count()
    with probes.RssSampler(interval_s=0.01) as rss:
        assert threading.active_count() == before + 1
    assert not rss._thread.is_alive()
    assert rss.peak_bytes >= probes.tree_rss_bytes(os.getpid()) // 2 > 0


def test_cli_rejects_unknown_workload():
    with pytest.raises(SystemExit) as e:
        run.main(["--workload", "nope", "--seed", "1", "--seconds", "1"])
    assert e.value.code != 0
