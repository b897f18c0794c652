#!/usr/bin/env python3
"""Benchmark for the sumi_agent_spark scrub pipeline.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One client calls ``plans.pipeline.run_pipeline``
in a closed loop (the next call starts when the previous one returns) on
``local[<cores this process may use>]`` for ``--seconds``, then checks every
call's output (see checks.py).  Workloads (see README.md for why each exists):

* ``bulk_scrub``     -- default gates over a many-file table;
* ``curation_gates`` -- the operator gates over planted duplicates;
* ``daily_slices``   -- one-file slices against the persisted MinHash index.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics: Spark job-group stats of every timed call, the ``functions`` kernels
on a turn sample, and each ``operators`` function in its own job group.  The
line before the last is a summary with the correctness figures and the
measured input shares; the last line is the result object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("bulk_scrub", "curation_gates", "daily_slices")

BULK_TURNS = 20_000
BULK_FILES = 16
CURATION_TURNS = 5_000
CURATION_FILES = 4
CURATION_SHARES = {"exact": 0.10, "near": 0.10, "contam": 0.01}
SLICE_TURNS = 3_000
MAX_SLICES = 6
SLICE_SHARES = {"cross_near": 0.10, "near": 0.05, "reexport": 0.05}
#: Warm-up input sizes and calls.  A cold JVM makes the first call of a
#: process 3-4x slower whatever its size.  The JVM's CPU time per bulk call
#: then falls for about three more calls, whatever their size (the planning
#: code is compiled by call count), and the first of them runs 15-25% slower
#: than the fourth, so bulk warms up with three full-size calls.  Curation
#: warms up once on a small table: a second warm-up call would cost ~8 s a
#: run and did not lower the spread of its throughput (0.10 over five seeds).
WARM_TURNS = {"bulk_scrub": BULK_TURNS, "curation_gates": 500, "daily_slices": 750}
WARM_CALLS = {"bulk_scrub": 3, "curation_gates": 1}
GEN_REPS = 3            # input generation is repeated; setup counts its median
#: Timed calls a run makes at least; bulk reports the median of three.
MIN_CALLS = {"bulk_scrub": 3, "curation_gates": 1, "daily_slices": 1}
FUNCTIONS_SAMPLE = 20_000
OPERATOR_SAMPLE = 4_000
DRIVER_MEMORY = "2g"

#: Metric name -> unit, as declared in BENCHMARK.json.
END_TO_END = {"setup_s": "s", "turns_per_s": "turns/s"}
_OPERATORS = ("dedup.minhash_near_duplicates", "decontaminate.flag_benchmark_overlap",
              "repetition.repetition_filter", "doc_quality.gopher_quality_filter",
              "minhash_index.probe", "minhash_index.append")
PER_LAYER = {
    "session.start_s": "s", "session.warm_s": "s",
    "sources.generate_s": "s", "sources.input_bytes": "bytes",
    "sources.distinct_text_frac": "ratio",
    "functions.detect_s": "s", "functions.redact_s": "s", "functions.quality_s": "s",
    "functions.detections_per_turn": "count/turn", "functions.masked_turn_frac": "ratio",
    "plans.jobs": "count", "plans.stages": "count", "plans.tasks": "count",
    "plans.failed_tasks": "count", "plans.busy_s": "s", "plans.jvm_cpu_s": "s",
    "plans.idle_frac": "ratio", "plans.scan_amplification": "ratio",
    "plans.shuffle_bytes": "bytes", "plans.spill_bytes": "bytes",
    "plans.output_bytes": "bytes",
    **{f"operators.{op}.{k}": unit for op in _OPERATORS
       for k, unit in (("wall_s", "s"), ("jobs", "count"), ("busy_s", "s"),
                       ("shuffle_bytes", "bytes"))},
    "operators.dedup.pairs": "count", "operators.dedup.capped_rows": "count",
    "operators.minhash_index.bytes_per_turn": "bytes/turn",
    "operators.minhash_index.files": "count",
    "trace.overhead_frac": "ratio",
    # per-layer, not end-to-end: the number of Python workers alive at once
    # varies from run to run, which spread it by 25% over ten bulk runs
    "peak_rss_mb": "MiB",
}

#: Script-neutral subset of the Gopher quality rules: the word-count,
#: word-length, alpha and stopword rules assume space-separated English.
JA_EN_QUALITY_RULES = {
    "hash_word_ratio": (None, 0.1),
    "ellipsis_word_ratio": (None, 0.1),
    "bullet_line_frac": (None, 0.9),
    "ellipsis_line_frac": (None, 0.3),
}
TOXIC_ABOVE = 0.3


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started."""
    with open("/proc/self/stat", "rb") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(b")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dir_bytes(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


# ----------------------------------------------------------------------------
# workloads: input generation, pipeline options and expectations


class Workload:
    """Inputs of one workload and how each timed call consumes them.

    Table 0 is the set-up table (the warm-up call's input, or the daily
    bootstrap slice); timed call ``i`` reads table ``i``.  Every table holds
    different text, so no call can reuse work done for an earlier one."""

    def __init__(self, name: str, seed: int, work: Path):
        self.name, self.seed, self.work = name, seed, work
        self.evals_path = work / "eval"
        self.index_path = work / "index"
        self.tables: dict = {}
        self.natural: dict = {}
        self.bytes: dict = {}

    @property
    def max_calls(self) -> int | None:
        return MAX_SLICES if self.name == "daily_slices" else None

    def path(self, i: int) -> Path:
        return self.work / "in" / str(i)

    # -- generation -----------------------------------------------------------
    def prepare(self) -> None:
        """Write the repeated part of set-up: the eval set and the first timed
        call's table or, for daily slices, every slice (each plants copies
        of the slices before it).  Its median time is ``sources.generate_s``."""
        import workloads as wl

        shutil.rmtree(self.work / "in", ignore_errors=True)
        self.tables.clear()
        self.evals = wl.eval_rows(self.seed)
        wl.write_table(self.evals, self.evals_path, 1)
        if self.name != "daily_slices":
            self.table(1)
            return
        # the last slice is spare, for the traced run's operator probes
        tables = wl.daily_tables(self.seed, MAX_SLICES + 1, SLICE_TURNS, SLICE_SHARES)
        for i, (t, nat) in enumerate(zip(tables, wl.natural_duplicates(tables, str))):
            self.tables[i], self.natural[i] = t, nat
            self.bytes[i] = wl.write_table(t.frame, self.path(i), 1)

    def table(self, i: int):
        """Table ``i``, generated and written on first use; table 0 is the
        warm-up input."""
        import workloads as wl

        if i not in self.tables:
            sub_seed = f"{self.seed}-{i}"
            if self.name == "bulk_scrub":
                n = WARM_TURNS[self.name] if i == 0 else BULK_TURNS
                t, files = wl.bulk_table(sub_seed, n), BULK_FILES
                self.natural[i] = set()
            else:
                n = WARM_TURNS[self.name] if i == 0 else CURATION_TURNS
                t = wl.curation_table(sub_seed, n, CURATION_SHARES, self.evals)
                files = CURATION_FILES
                self.natural[i] = wl.natural_duplicates([t], wl.dedup_key)[0]
            self.tables[i] = t
            self.bytes[i] = wl.write_table(t.frame, self.path(i), files)
        return self.tables[i]

    def options(self, index_path: Path | None = None) -> dict:
        if self.name == "curation_gates":
            return dict(dedup=True, near_dedup_threshold=0.8,
                        decontaminate_against=str(self.evals_path),
                        repetition_thresholds="gopher",
                        drop_toxic_above=TOXIC_ABOVE,
                        gopher_quality_rules=JA_EN_QUALITY_RULES)
        if self.name == "daily_slices":
            return dict(near_dedup_threshold=0.8,
                        near_dedup_index_path=str(index_path or self.index_path),
                        reindex_changed=True)
        return {}

    # -- set-up ---------------------------------------------------------------
    def warm(self, spark) -> None:
        """Start the Python workers and run every code path once.

        Bulk and curation warm up on table 0 (bulk three times).  Daily
        slices warm a bootstrap and an incremental slice on a small index of
        their own, then bootstrap the real index from slice 0."""
        import workloads as wl
        from sumi_agent_spark.plans.pipeline import run_pipeline

        warm = self.work / "warm"
        if self.name == "daily_slices":
            tables = wl.daily_tables(f"warm-{self.seed}", 1, WARM_TURNS[self.name],
                                    SLICE_SHARES)
            for i, t in enumerate(tables):
                wl.write_table(t.frame, warm / f"in{i}", 1)
                run_pipeline(spark, str(warm / f"in{i}"), str(warm / f"out{i}"),
                             **self.options(warm / "index"))
            run_pipeline(spark, str(self.path(0)), str(self.work / "boot"), **self.options())
        else:
            for k in range(WARM_CALLS[self.name]):
                run_pipeline(spark, str(self.path(0)), str(warm / f"out{k}"),
                             **self.options())
        shutil.rmtree(warm, ignore_errors=True)

    # -- checks ---------------------------------------------------------------
    def expectation(self, spark, i: int):
        from checks import Expectation
        import workloads as wl

        table = self.tables[i]
        exp = Expectation(frame=table.frame, planted=table.planted, natural=self.natural[i])
        if self.name == "curation_gates":
            exp.other_gate_drops, exp.toxic_rows = self._row_gate_drops(spark, i)
            keys = [wl.dedup_key(t) for t in table.frame["text"]]
            exp.n_exact_dups = len(keys) - len(set(keys))
        return exp

    def _row_gate_drops(self, spark, i: int):
        """Keys the row-local gates (toxicity, Gopher quality, repetition)
        drop, computed by the operators on the whole input.  Per-row verdicts,
        so the pipeline's gate order does not change them."""
        from pyspark.sql import functions as F

        from sumi_agent_spark.operators.doc_quality import gopher_quality_keep_condition
        from sumi_agent_spark.operators.repetition import repetition_filter
        from sumi_agent_spark.operators.toxicity import toxicity_score_col

        df = spark.read.parquet(str(self.path(i)))
        toxic = toxicity_score_col(F.col("text")) > TOXIC_ABOVE
        n_toxic = df.filter(toxic).count()
        kept = repetition_filter(
            df.filter(~toxic & gopher_quality_keep_condition(F.col("text"),
                                                             JA_EN_QUALITY_RULES)),
            "text", ["conv_id", "turn_idx"])
        kept = {(r[0], int(r[1])) for r in kept.select("conv_id", "turn_idx").collect()}
        frame = self.tables[i].frame
        keys = set(zip(frame["conv_id"], frame["turn_idx"].astype(int)))
        return keys - kept, n_toxic

    def lineage_drops(self, out: Path) -> int:
        from checks import sidecar

        if self.name == "curation_gates":
            return sum(int(sidecar(out, s).get("n_dropped", 0)) for s in
                       ("_lineage_neardup", "_lineage_decontam",
                        "_lineage_docquality", "_lineage_repetition"))
        if self.name == "daily_slices":
            nd = sidecar(out, "_lineage_neardup")
            return int(nd["n_dropped"]) + int(nd["n_preindexed_rows_dropped"])
        return 0


# ----------------------------------------------------------------------------
# per-layer probes (traced run only)


def functions_layer(frames) -> dict:
    """The scrub kernels, single-threaded in this process, on the first 20k
    turns of the timed calls' inputs (times scaled to 20k turns)."""
    import pandas as pd

    from sumi_agent_spark.functions.batch_detect import detect_all_batch
    from sumi_agent_spark.functions.oracle import apply_mask_config, apply_redaction
    from sumi_agent_spark.functions.quality import quality_frame

    frame = pd.concat(frames, ignore_index=True)
    frame = frame.iloc[:FUNCTIONS_SAMPLE]
    texts = frame["text"].fillna("").tolist()
    scale = FUNCTIONS_SAMPLE / len(texts)
    t0 = time.perf_counter()
    dets = detect_all_batch(texts)
    t1 = time.perf_counter()
    for text, d in zip(texts, dets):
        apply_redaction(text, apply_mask_config(d), True, False)
    t2 = time.perf_counter()
    quality_frame(frame["text"], frame["role"])
    t3 = time.perf_counter()
    masked = [apply_mask_config(d) for d in dets]
    return {
        "functions.detect_s": (t1 - t0) * scale,
        "functions.redact_s": (t2 - t1) * scale,
        "functions.quality_s": (t3 - t2) * scale,
        "functions.detections_per_turn": sum(map(len, masked)) / len(texts),
        "functions.masked_turn_frac": sum(1 for d in masked if d) / len(texts),
    }


def operators_layer(spark, wk: Workload, jg) -> dict:
    """Each operator on the workload's own input, in its own job group."""
    from pyspark.sql import functions as F

    from sumi_agent_spark.operators.decontaminate import flag_benchmark_overlap
    from sumi_agent_spark.operators.dedup import minhash_bucket_audit, minhash_near_duplicates
    from sumi_agent_spark.operators.doc_quality import gopher_quality_filter
    from sumi_agent_spark.operators.minhash_index import (
        append_to_minhash_index, minhash_near_duplicates_incremental, write_minhash_index)
    from sumi_agent_spark.operators.repetition import repetition_filter

    def keyed(path):
        return (spark.read.parquet(str(path))
                .withColumn("_nk", F.struct("conv_id", "turn_idx")))

    out = {}

    def timed(name, fn):
        with jg.group(name) as st:
            value = fn()
        for k in ("wall_s", "jobs", "busy_s", "shuffle_bytes"):
            out[f"operators.{name}.{k}"] = st[k]
        return value

    # daily slices probe the grown index (a copy, for the append) with the
    # spare slice; the others index half of their first table, probe the rest
    if wk.name == "daily_slices":
        df = new = keyed(wk.path(MAX_SLICES + 1))
        index = wk.work / "index-copy"
        shutil.copytree(wk.index_path, index)
    else:
        df = keyed(wk.path(1)).limit(OPERATOR_SAMPLE).localCheckpoint()
        index = wk.work / "index-probe"
        old, new = df.randomSplit([0.5, 0.5], seed=7)
        write_minhash_index(old, "_nk", "text", str(index))
        new = new.localCheckpoint()
    evals = spark.read.parquet(str(wk.evals_path))
    out["operators.dedup.pairs"] = timed(
        "dedup.minhash_near_duplicates",
        lambda: minhash_near_duplicates(df, "_nk", "text", threshold=0.8).count())
    out["operators.dedup.capped_rows"] = minhash_bucket_audit(
        df, "_nk", "text", threshold=0.8)["n_capped_rows"]
    timed("decontaminate.flag_benchmark_overlap",
          lambda: flag_benchmark_overlap(df, "_nk", "text", evals)
          .agg(F.sum(F.col("contaminated").cast("long"))).first())
    timed("repetition.repetition_filter",
          lambda: repetition_filter(df, "text", ["_nk"]).count())
    timed("doc_quality.gopher_quality_filter",
          lambda: gopher_quality_filter(df, "text", JA_EN_QUALITY_RULES).count())
    timed("minhash_index.probe",
          lambda: minhash_near_duplicates_incremental(new, "_nk", "text", str(index)).count())
    timed("minhash_index.append",
          lambda: append_to_minhash_index(new, "_nk", "text", str(index)))
    if wk.name == "daily_slices":
        index = wk.index_path  # the index the timed slices grew
    size, files = dir_bytes(index)
    n_docs = spark.read.parquet(str(index / "shingles")).count()
    out["operators.minhash_index.bytes_per_turn"] = size / max(n_docs, 1)
    out["operators.minhash_index.files"] = files
    return out


# ----------------------------------------------------------------------------


def run(args, work: Path) -> tuple[dict, dict]:
    import workloads as wl
    from checks import OracleCache, check_call
    from probes import PLAN_FIELDS, JobGroups, RssSampler

    from sumi_agent_spark.plans.pipeline import run_pipeline
    from sumi_agent_spark.session import get_spark

    t_proc = process_start_epoch()
    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf={
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # a fixed heap size keeps the JVM's resident set from depending on
        # when garbage collections happen to resize the heap
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={work / 'tmp'} "
            f"-Dderby.system.home={work} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t0

    wk = Workload(args.workload, args.seed, work)
    gen_times = []
    for _ in range(GEN_REPS):
        t = time.perf_counter()
        wk.prepare()
        gen_times.append(time.perf_counter() - t)
    wk.table(0)
    t = time.perf_counter()
    wk.warm(spark)
    warm_s = time.perf_counter() - t
    setup_s = (time.time() - t_proc) - (sum(gen_times) - median(gen_times))

    jg = JobGroups(spark, cores)
    calls = []  # per timed call: table index, out dir, wall, plan stats if traced
    failed_calls = 0
    errors = []
    timed_s = 0.0
    with RssSampler() as rss:
        i = 1
        while wk.max_calls is None or i <= wk.max_calls:
            if len(calls) >= MIN_CALLS[wk.name] and timed_s >= args.seconds:
                break
            wk.table(i)  # generated before the timed call starts
            out = work / "out" / str(i)
            plan: dict = {}
            t = time.perf_counter()
            try:
                if args.trace:
                    with jg.group("run_pipeline") as plan:
                        run_pipeline(spark, str(wk.path(i)), str(out), **wk.options())
                else:
                    run_pipeline(spark, str(wk.path(i)), str(out), **wk.options())
                wall = time.perf_counter() - t
            except Exception as e:  # a raising call is a failed operation
                failed_calls += 1
                errors.append(f"call {i}: {type(e).__name__}: {e}"[:500])
                out, wall = None, None
            timed_s += time.perf_counter() - t
            calls.append({"i": i, "out": out, "wall": wall, "plan": plan})
            i += 1

    oracle = OracleCache()
    results = []
    for c in calls:
        if c["out"] is None:
            continue
        res = check_call(c["out"], wk.expectation(spark, c["i"]), oracle,
                         wk.lineage_drops(c["out"]))
        results.append(res)
        if not res["ok"]:
            failed_calls += 1
            errors.append(f"call {c['i']}: " + "; ".join(res["problems"]))

    ok_calls = [c for c in calls if c["wall"] is not None]
    walls = [c["wall"] for c in ok_calls]
    tables = [wk.tables[c["i"]] for c in calls]
    texts = [t for tb in tables for t in tb.frame["text"]]
    n_texts = len(texts)
    planted = sum(r["planted"] for r in results)
    unplanted = sum(r["unplanted"] for r in results)
    checked = sum(r["oracle_checked"] for r in results)
    summary = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "loop": "closed, one client", "calls": len(calls),
        "turns_per_call": median([len(tb.frame) for tb in tables]),
        "input_bytes_per_call": median([wk.bytes[c["i"]] for c in calls]),
        "distinct_text_frac": wl.distinct_text_frac(texts),
        "planted_shares": {k: sum(len(tb.planted.get(k, ())) for tb in tables) / n_texts
                           for k in ("exact", "near", "contam", "cross_near", "reexport")},
        "natural_dup_share": sum(len(wk.natural[c["i"]]) for c in calls) / n_texts,
        "setup_s": setup_s, "session_start_s": session_start_s,
        "generate_s": median(gen_times), "warm_s": warm_s,
        "turns_per_s": median([len(wk.tables[c["i"]].frame) / c["wall"] for c in ok_calls]),
        "slice_latency_s": median(walls),
        "call_walls_s": walls,
        "peak_rss_mb": rss.peak_bytes / 2**20,
        "ops_failed_frac": failed_calls / len(calls),
        "oracle_mismatch_frac": (sum(r["oracle_mismatches"] for r in results) / checked
                                 if checked else None),
        "dup_recall": (sum(r["planted_dropped"] for r in results) / planted
                       if planted else None),
        "false_drop_frac": (sum(r["false_drops"] for r in results) / unplanted
                            if unplanted else None),
        "errors": errors,
    }
    if args.trace:
        values = {
            "session.start_s": session_start_s,
            "session.warm_s": warm_s,
            "sources.generate_s": median(gen_times),
            "sources.input_bytes": summary["input_bytes_per_call"],
            "sources.distinct_text_frac": summary["distinct_text_frac"],
            **functions_layer([tb.frame for tb in tables]),
            **{f"plans.{f}": median([c["plan"][f] for c in ok_calls])
               for f in PLAN_FIELDS if f"plans.{f}" in PER_LAYER},
            "plans.scan_amplification": median([c["plan"]["input_records"]
                                                / len(wk.tables[c["i"]].frame)
                                                for c in ok_calls]),
            # the job group costs nothing; reading the stage metrics is the
            # only work tracing adds to a timed call
            "trace.overhead_frac": median([c["plan"]["read_s"]
                                           / (c["wall"] - c["plan"]["read_s"])
                                           for c in ok_calls]),
            **operators_layer(spark, wk, JobGroups(spark, cores)),
            "peak_rss_mb": summary["peak_rss_mb"],
        }
        declared = PER_LAYER
    else:
        values = {k: summary[k] for k in END_TO_END}
        declared = END_TO_END
    result = {
        "correct": failed_calls == 0,
        "attempted": len(calls),
        "failed": failed_calls,
        "metrics": {k: {"value": values[k], "unit": unit} for k, unit in declared.items()},
    }
    return summary, result


def stop_spark() -> None:
    """Stop the session, then the JVM it launched, and wait until the JVM
    and the Python workers it started have all ended."""
    from probes import process_tree
    from pyspark import SparkContext

    started = process_tree(os.getpid())[1:]
    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while any(map(_running, started)) and time.monotonic() < deadline:
        time.sleep(0.1)


def _running(pid: int) -> bool:
    """Whether ``pid`` still runs (an exited process awaiting its reaper
    keeps a /proc entry in state Z)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:].split()[0] != b"Z"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "sumi_agent_spark" / "plans" / "pipeline.py").is_file():
        print("perfbench: run from the repository root (sumi_agent_spark/ not found)",
              file=sys.stderr)
        return 2
    work = root / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # the JVM, its Python workers and tempfile all stay in the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(root), os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    sys.path.insert(0, str(root))
    try:
        summary, result = run(args, work)
    finally:
        try:
            stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(summary))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
