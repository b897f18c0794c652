"""Seeded inputs for the three benchmark workloads.

Every table is built on ``sources.transcripts.generate_transcripts`` so the
role and PII mix stays the fixture's.  The fixture draws clean, false-positive
trap and quality-drop turns from small text pools (about two thirds of its
turns repeat an earlier text), so every turn outside the quality-drop pool
gets a seeded tail of neutral English words.  That sets the distinct-text
share near 90%, which is a workload property: a text-keyed cache or the LSH
bucket sizes depend on it.  The quality-drop pool stays verbatim, so the
keep/drop mix stays the fixture's too.

On top of that base the generator plants what the dedup and decontamination
gates must find, and records the planted keys for the output checks:

* ``exact``     -- a later turn repeats an earlier turn's text;
* ``near``      -- a later turn repeats an earlier turn's text with one
                   letter changed (5-char-shingle Jaccard >= 0.85);
* ``contam``    -- a turn quotes six words of a row of the benchmark-made
                   eval set (pseudo-words no other turn contains);
* ``cross_near``-- a daily slice carries a near-copy of an earlier slice's turn;
* ``reexport``  -- a daily slice re-exports an earlier conversation (same
                   keys, last turn grown), plus two new turns.

Same seed, same bytes: every random draw comes from ``random.Random`` seeded
with a string derived from the workload seed.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd

from sumi_agent_spark.sources.transcripts import _DROP_TURNS, generate_transcripts

#: Average turns per conversation of ``generate_transcripts`` at its
#: defaults (avg 20, every 25th conversation 12x as long).
TURNS_PER_CONV = 20 * (24 + 12) / 25

#: Neutral tail words: no PII shape, no toxicity-lexicon term, no q/x/z
#: (the eval set's pseudo-words are built from those letters).
TAIL_WORDS = """
ledger harbor meadow lantern copper willow orbit canvas timber pebble
summit valley garden signal button marble cotton anchor beacon bridge
candle castle cement cinder cobalt column comet coral cradle crystal
desert dollar dragon engine fabric falcon feather filter forest fossil
garnet glider granite gravel helmet hollow island jacket jungle kettle
ladder lemon linen magnet mantle mirror mortar motor needle nickel
noodle oyster paddle parcel pencil pepper pillar planet pocket pollen
puppet rabbit radish ribbon rocket saddle salmon sandal silver socket
spider spring statue stream sunset tablet tender thread ticket tomato
tunnel turtle velvet vessel violet walnut window winter yellow tulip
""".split()

_EVAL_SYLLABLES = ["qua", "xo", "zy", "vex", "qir", "zok", "jux", "xan",
                   "quo", "zev", "kyx", "wuz", "qel", "zix", "xur", "vaz"]

SHINGLE_K = 5          # the MinHash operators' default shingle size
NEAR_MIN_JACCARD = 0.85
_MIN_SOURCE_CHARS = 70
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_DROP_POOL = frozenset(_DROP_TURNS)


@dataclass
class Table:
    """One input table plus what the checks need to know about it."""

    frame: pd.DataFrame
    planted: dict[str, set] = field(default_factory=dict)

    @property
    def planted_keys(self) -> set:
        return set().union(*self.planted.values()) if self.planted else set()


def shingles(text: str, k: int = SHINGLE_K) -> set:
    if len(text) < k:
        text = text + "\x1f" * (k - len(text))
    return {text[i:i + k] for i in range(len(text) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def dedup_key(text) -> str:
    """The exact-dedup fingerprint input of ``plans.pipeline.deduplicate_turns``:
    Spark ``trim`` strips spaces only, then Java ``\\s+`` runs become one space."""
    return _JAVA_WS.sub(" ", (text or "").strip(" "))


def distinct_text_frac(texts) -> float:
    texts = list(texts)
    return len(set(texts)) / len(texts) if texts else 0.0


def base_turns(seed: str, n_turns: int, conv_prefix: str) -> pd.DataFrame:
    """Exactly ``n_turns`` fixture turns, sorted by key, with distinct tails.

    The fixture's turn count per conversation is random; the table is cut
    at ``n_turns`` so that every seed gives the same amount of work."""
    rng = random.Random(f"tail-{seed}")
    fixture_seed = random.Random(f"fixture-{seed}").randrange(2**31)
    n_convs = int(n_turns / TURNS_PER_CONV * 1.5) + 2
    df = generate_transcripts(n_convs=n_convs, seed=fixture_seed)
    while len(df) < n_turns:  # rare: far fewer turns than the average
        n_convs *= 2
        df = generate_transcripts(n_convs=n_convs, seed=fixture_seed)
    df = df.iloc[:n_turns].copy()
    df["conv_id"] = conv_prefix + df["conv_id"]
    df["text"] = [t if t in _DROP_POOL else f"{t} {tail(rng)}"
                  for t in df["text"]]
    return df


def tail(rng: random.Random, n_words: int = 8) -> str:
    return " ".join(rng.choice(TAIL_WORDS) for _ in range(n_words))


def eval_rows(seed, n_rows: int = 64, n_words: int = 16) -> pd.DataFrame:
    rng = random.Random(f"eval-{seed}")
    words = ["".join(rng.choice(_EVAL_SYLLABLES) for _ in range(rng.randint(2, 3)))
             for _ in range(n_rows * n_words)]
    return pd.DataFrame({"text": [" ".join(words[i:i + n_words])
                                  for i in range(0, len(words), n_words)]})


def near_copy(text: str, rng: random.Random) -> str:
    """``text`` with one tail letter changed, Jaccard >= NEAR_MIN_JACCARD."""
    positions = [i for i in range(max(0, len(text) - 40), len(text))
                 if "a" <= text[i] <= "y" and text[i] not in "qxz"]
    for _ in range(50):
        i = rng.choice(positions)
        c = rng.choice([ch for ch in "bcdfghkmnprstvw" if ch != text[i]])
        cand = text[:i] + c + text[i + 1:]
        if jaccard(text, cand) >= NEAR_MIN_JACCARD:
            return cand
    raise ValueError(f"no near copy of {text!r} reaches {NEAR_MIN_JACCARD}")


def eligible(df: pd.DataFrame) -> list[int]:
    """Row positions that can serve as plant sources or targets: tailed,
    long enough that a one-letter edit stays a near duplicate."""
    return [i for i, t in enumerate(df["text"])
            if t not in _DROP_POOL and len(t) >= _MIN_SOURCE_CHARS]


def _key(df: pd.DataFrame, i: int) -> tuple:
    return (df["conv_id"].iat[i], int(df["turn_idx"].iat[i]))


def plant_in_table(df: pd.DataFrame, rng: random.Random, shares: dict,
                   evals: pd.DataFrame | None = None,
                   exclude: set | None = None) -> dict[str, set]:
    """Plant ``exact``/``near`` pairs and ``contam`` quotes into ``df`` in
    place.  Pairs are disjoint and the copy always sits at the later key,
    so keep-first dedup must drop exactly the copy.  Returns planted keys."""
    pool = [i for i in eligible(df) if i not in (exclude or set())]
    rng.shuffle(pool)
    n = len(df)
    planted: dict[str, set] = {}
    texts = df["text"].tolist()
    for kind in ("exact", "near"):
        m = int(shares.get(kind, 0) * n)
        pairs, pool = pool[:2 * m], pool[2 * m:]
        planted[kind] = set()
        for a, b in zip(pairs[::2], pairs[1::2]):
            src, dst = min(a, b), max(a, b)
            texts[dst] = texts[src] if kind == "exact" else near_copy(texts[src], rng)
            planted[kind].add(_key(df, dst))
    m = int(shares.get("contam", 0) * n)
    planted["contam"] = set()
    if m:
        rows = evals["text"].tolist()
        for i in pool[:m]:
            words = rng.choice(rows).split(" ")
            j = rng.randrange(len(words) - 6)
            texts[i] = f"{texts[i]} {' '.join(words[j:j + 6])}"
            planted["contam"].add(_key(df, i))
    df["text"] = texts
    return planted


def bulk_table(seed, n_turns: int) -> Table:
    return Table(base_turns(f"bulk-{seed}", n_turns, "conv_"))


def curation_table(seed, n_turns: int, shares: dict, evals: pd.DataFrame) -> Table:
    df = base_turns(f"curation-{seed}", n_turns, "conv_")
    planted = plant_in_table(df, random.Random(f"plant-{seed}"), shares, evals)
    return Table(df, planted)


def daily_tables(seed, n_slices: int, slice_turns: int, shares: dict) -> list[Table]:
    """Bootstrap slice (index 0) + ``n_slices`` timed slices.

    Slice ``s`` carries near-copies of turns of slices ``< s`` that the
    index holds (unplanted, tailed), near-duplicates within itself, and
    re-exports of whole earlier conversations: the same keys and texts,
    the last tailed turn grown by six words (a changed re-export the
    index must re-epoch), and two new turns."""
    rng = random.Random(f"daily-{seed}")
    tables = [Table(base_turns(f"daily-{seed}-0", slice_turns, "d00_"))]
    reexported: set = set()
    for s in range(1, n_slices + 1):
        df = base_turns(f"daily-{seed}-{s}", slice_turns, f"d{s:02d}_")
        indexed = [(t.frame, i) for t in tables for i in eligible(t.frame)
                   if _key(t.frame, i) not in t.planted_keys
                   and t.frame["conv_id"].iat[i] not in reexported]
        targets = eligible(df)
        rng.shuffle(targets)
        m = int(shares["cross_near"] * len(df))
        cross = set()
        texts = df["text"].tolist()
        for i in targets[:m]:
            src_df, j = rng.choice(indexed)
            texts[i] = near_copy(src_df["text"].iat[j], rng)
            cross.add(_key(df, i))
        df["text"] = texts
        planted = plant_in_table(df, rng, {"near": shares["near"]},
                                 exclude=set(targets[:m]))
        planted["cross_near"] = cross
        extra, planted["reexport"] = _reexports(
            tables, rng, int(shares["reexport"] * len(df)), reexported)
        df = (pd.concat([df, extra], ignore_index=True)
              .sort_values(["conv_id", "turn_idx"], ignore_index=True))
        tables.append(Table(df, planted))
    return tables


def _reexports(tables: list[Table], rng: random.Random, n_rows: int,
               used: set):
    """Whole earlier conversations with no planted turn, re-exported grown
    (each at most once: ``used`` collects the picked conversation ids)."""
    candidates = []
    for t in tables:
        bad = {k[0] for k in t.planted_keys} | used
        for conv, g in t.frame.groupby("conv_id", sort=True):
            if conv not in bad and len(g) <= 60 and eligible(g.reset_index(drop=True)):
                candidates.append(g)
    rng.shuffle(candidates)
    picked, total = [], 0
    for g in candidates:
        if total >= n_rows:
            break
        picked.append(g)
        used.add(g["conv_id"].iat[0])
        total += len(g)
    frames, keys = [], set()
    for g in picked:
        g = g.reset_index(drop=True).copy()
        last = eligible(g)[-1]
        g.loc[last, "text"] = g.loc[last, "text"] + " " + tail(rng, 6)
        keys.update(zip(g["conv_id"], g["turn_idx"].astype(int)))
        new = g.iloc[[last, last]].copy()
        new["turn_idx"] = np.array([g["turn_idx"].max() + 1, g["turn_idx"].max() + 2],
                                   dtype="int32")
        new["text"] = [f"{t} {tail(rng)}" for t in ("Follow-up note.", "Closing note.")]
        new["ts"] = new["ts"] + pd.to_timedelta([60, 120], unit="s")
        frames.append(pd.concat([g, new], ignore_index=True))
    if not frames:
        return tables[0].frame.iloc[:0].copy(), keys
    out = pd.concat(frames, ignore_index=True)
    out["turn_idx"] = out["turn_idx"].astype("int32")
    return out, keys


def natural_duplicates(tables: list[Table], normalize) -> list[set]:
    """Per table, the unplanted keys whose (normalized) text already
    appeared at an earlier key or in an earlier table: a correct dedup
    drops them although nothing was planted.  A re-export repeats keys of
    an earlier table, so each table is judged by its own planted keys."""
    seen: set = set()
    out = []
    for t in tables:
        planted, dups = t.planted_keys, set()
        for conv, idx, text in zip(t.frame["conv_id"], t.frame["turn_idx"], t.frame["text"]):
            key = (conv, int(idx))
            norm = normalize(text)
            if norm in seen and key not in planted:
                dups.add(key)
            seen.add(norm)
        out.append(dups)
    return out


def write_table(df: pd.DataFrame, directory: Path, n_files: int) -> int:
    """Write ``df`` as ``n_files`` key-range parquet files; returns bytes."""
    directory.mkdir(parents=True, exist_ok=True)
    total = 0
    for i, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        path = directory / f"part-{i:05d}.parquet"
        df.iloc[part].to_parquet(path, index=False, coerce_timestamps="us",
                                 allow_truncated_timestamps=True)
        total += path.stat().st_size
    return total
