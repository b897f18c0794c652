"""Output checks for one ``run_pipeline`` call.

* oracle: a fixed-size sample of output rows, picked by a hash of the key,
  must match ``functions.oracle.scrub_text`` byte for byte (``masked_text``,
  ``n_detections``) and ``functions.quality.quality_frame`` run in this process
  (``lang``, ``keep``, ``drop_reason``);
* planted keys: the dedup and decontamination gates must drop what the
  generator planted (recall per kind) and nothing unplanted (false drops);
* row accounting: input rows = output rows + the drops each gate reports in
  its lineage sidecar, output keys unique and drawn from the input.

A call whose checks fail counts as failed.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq

from sumi_agent_spark.functions.oracle import scrub_text
from sumi_agent_spark.functions.quality import quality_frame

ORACLE_SAMPLE = 400

#: Minimum share of each planted kind that the gates must drop.  Exact
#: copies, eval quotes and re-exported keys are found deterministically;
#: near copies (Jaccard >= 0.85) pass the 16x8 LSH bands with probability
#: above 0.99 each, so 0.95 leaves room for sampling noise only.
MIN_RECALL = {"exact": 1.0, "contam": 1.0, "reexport": 1.0,
              "near": 0.95, "cross_near": 0.95}

OUTPUT_COLUMNS = ["conv_id", "turn_idx", "masked_text", "n_detections",
                  "lang", "keep", "drop_reason"]


@dataclass
class Expectation:
    """What one call's output must satisfy, derived from its input only."""

    frame: pd.DataFrame                 # the input table
    planted: dict[str, set]
    natural: set                        # unplanted keys a correct dedup drops
    other_gate_drops: set = field(default_factory=set)  # row-local gates
    n_exact_dups: int = 0               # rows the exact-dedup gate must drop
    toxic_rows: int = 0                 # input rows above the toxicity cut


def sidecar(out_dir: Path, name: str) -> dict:
    """The single row of a lineage sidecar, or {} when the gate is off."""
    path = out_dir / name
    if not path.exists():
        return {}
    rows = pq.read_table(path).to_pylist()
    if len(rows) != 1:
        raise ValueError(f"{path}: expected one lineage row, found {len(rows)}")
    return rows[0]


def _sample_keys(keys, n: int) -> list:
    def h(k):
        return hashlib.md5(f"{k[0]}\x00{k[1]}".encode()).hexdigest()
    return sorted(keys, key=h)[:n]


class OracleCache:
    """Oracle results per (key, role, text), shared by the checks of all calls."""

    def __init__(self):
        self._scrub: dict = {}

    def mismatches(self, out: pd.DataFrame, inp: pd.DataFrame) -> tuple[int, int]:
        keys = list(zip(out["conv_id"], out["turn_idx"].astype(int)))
        sample = _sample_keys(keys, ORACLE_SAMPLE)
        got = out.set_index(["conv_id", "turn_idx"]).loc[sample]
        src = inp.set_index(["conv_id", "turn_idx"]).loc[sample]
        ids = [(k, role, text or "") for k, role, text in
               zip(sample, src["role"], src["text"])]
        todo = [x for x in ids if x not in self._scrub]
        if todo:
            q = quality_frame(pd.Series([x[2] for x in todo]),
                              pd.Series([x[1] for x in todo]))
            for x, lang, keep, reason in zip(todo, q["lang"], q["keep"], q["drop_reason"]):
                masked, dets = scrub_text(x[2])
                self._scrub[x] = (masked, len(dets), lang, bool(keep), reason)
        bad = 0
        for x, row in zip(ids, got.itertuples(index=False)):
            want = self._scrub[x]
            have = (row.masked_text, int(row.n_detections), row.lang,
                    bool(row.keep), row.drop_reason)
            bad += have != want
        return len(sample), bad


def check_call(out_dir: Path, exp: Expectation, oracle: OracleCache,
               lineage_drops: int) -> dict:
    """Check one call's output; ``lineage_drops`` is the sum of the gates'
    sidecar drop counts (computed by the caller, which knows the gates)."""
    out = pq.read_table(out_dir, columns=OUTPUT_COLUMNS).to_pandas()
    in_keys = set(zip(exp.frame["conv_id"], exp.frame["turn_idx"].astype(int)))
    out_keys = list(zip(out["conv_id"], out["turn_idx"].astype(int)))
    out_set = set(out_keys)
    problems = []
    if len(out_set) != len(out_keys):
        problems.append("duplicate output keys")
    if not out_set <= in_keys:
        problems.append("output keys not in the input")
    lineage = sidecar(out_dir, "_lineage")
    if lineage.get("n_turns") != len(out_keys):
        problems.append(f"_lineage n_turns {lineage.get('n_turns')} != {len(out_keys)}")
    n_in = len(exp.frame)
    low = n_in - lineage_drops - exp.n_exact_dups - exp.toxic_rows
    high = n_in - lineage_drops - exp.n_exact_dups
    if not low <= len(out_keys) <= high:
        problems.append(f"row accounting: {n_in} in, {len(out_keys)} out, "
                        f"expected {low}..{high}")

    missing = in_keys - out_set
    recall = {}
    for kind, keys in exp.planted.items():
        if keys:
            recall[kind] = len(keys - out_set) / len(keys)
            if recall[kind] < MIN_RECALL[kind]:
                problems.append(f"{kind} recall {recall[kind]:.4f}")
    planted = set().union(*exp.planted.values()) if exp.planted else set()
    unplanted = in_keys - planted - exp.natural - exp.other_gate_drops
    false = missing & unplanted
    if false:
        problems.append(f"{len(false)} unplanted turns dropped")

    n_checked, n_bad = oracle.mismatches(out, exp.frame)
    if n_bad:
        problems.append(f"{n_bad}/{n_checked} sampled rows differ from the oracle")
    n_planted = sum(len(v) for v in exp.planted.values())
    return {
        "ok": not problems,
        "problems": problems,
        "rows_in": n_in,
        "rows_out": len(out_keys),
        "oracle_checked": n_checked,
        "oracle_mismatches": n_bad,
        "planted": n_planted,
        "planted_dropped": len(missing & planted),
        "unplanted": len(unplanted),
        "false_drops": len(false),
        "recall": recall,
    }
