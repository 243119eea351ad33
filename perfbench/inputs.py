"""Seeded inputs for the benchmark workloads.

Every function here is a pure function of its arguments: the same seed
gives byte-identical frames. Nothing in this module calls Spark.

- ``corpus``: the skewed transcript corpus of ``synth.generate_transcripts``
  (heavy-tailed turn counts, hot entities, periodic 2,000-turn giants).
- ``handle_corpus``: the same corpus with every ``@name`` replaced by a
  handle drawn from a seeded open-vocabulary population (see
  ``handle_population``), so linking leaves its in-process path.
- ``deltas``: the reindex workload's delta sequence (each delta appends
  turns to one conversation, adds one and deletes one).
"""

from __future__ import annotations

import os
import re
import string

import numpy as np
import pandas as pd

from hikma_engine_spark import synth

# corpus sizes: "full" is measured by handles, "reindex" by reindex,
# "smoke" is for tests
CONVS = {"full": 2000, "reindex": 1000, "smoke": 60}
HANDLE_BASES = {"full": 1200, "smoke": 60}
BIG_CONV_EVERY = {"full": 500, "reindex": 500, "smoke": 30}
BIG_CONV_TURNS = {"full": 2000, "reindex": 2000, "smoke": 200}

_AT_RE = re.compile(r"@([A-Za-z][A-Za-z0-9_\-]{1,30})")
_LETTERS = np.array(list(string.ascii_lowercase))


def corpus(seed: int, size: str = "full") -> pd.DataFrame:
    return synth.generate_transcripts(
        n_convs=CONVS[size],
        seed=seed,
        big_conv_every=BIG_CONV_EVERY[size],
        big_conv_turns=BIG_CONV_TURNS[size],
    )


def handle_population(seed: int, n_bases: int) -> tuple[list[str], dict[str, int]]:
    """Distinct handles and the true cluster (base index) of each.

    Bases are 16-20 random lowercase letters: two bases share a
    character 3-gram with probability ~2%, so distinct bases sit far
    below the linker's Jaccard/cosine thresholds and never chain.
    Each base has 0-3 near-spelling variants, each one edit at the end
    (append a letter, drop the last letter, double the last letter):
    shingle Jaccard 0.78-0.90 against the base, well inside the
    linker's acceptance region, so the true clusters are the bases.
    """
    rng = np.random.RandomState(seed + 7919)
    handles: list[str] = []
    cluster: dict[str, int] = {}
    seen: set[str] = set()
    b = 0
    while b < n_bases:
        length = int(rng.randint(16, 21))
        base = "".join(_LETTERS[rng.randint(26, size=length)])
        if base in seen:
            continue
        forms = [base]
        for kind in rng.permutation(3)[: int(rng.randint(0, 4))]:
            if kind == 0:
                forms.append(base + _LETTERS[rng.randint(26)])
            elif kind == 1:
                forms.append(base[:-1])
            else:
                forms.append(base + base[-1])
        for f in dict.fromkeys(forms):
            if f in seen:
                continue
            seen.add(f)
            handles.append(f)
            cluster[f] = b
        b += 1
    return handles, cluster


def handle_corpus(seed: int, size: str = "full") -> tuple[pd.DataFrame, dict[str, int]]:
    """Corpus whose @-mentions are drawn from ``handle_population``.

    Every handle is placed at least once (the first pass walks the
    population in a seeded order); the remaining @ slots draw handles
    uniformly. Returns the frame and {handle: true cluster} for exactly
    the handles inserted."""
    pdf = corpus(seed, size)
    handles, cluster = handle_population(seed, HANDLE_BASES[size])
    texts = pdf["text"].to_numpy(dtype=object)
    n_slots = int(sum(t.count("@") for t in texts))
    if n_slots < len(handles):
        raise ValueError(f"{n_slots} @ slots cannot place {len(handles)} handles")
    rng = np.random.RandomState(seed + 104729)
    order = np.concatenate(
        [rng.permutation(len(handles)), rng.randint(len(handles), size=n_slots - len(handles))]
    )
    order = order[rng.permutation(n_slots)]
    it = iter(order.tolist())
    out = [_AT_RE.sub(lambda _m: "@" + handles[next(it)], t) for t in texts]
    pdf["text"] = pd.Series(out, dtype="string")
    return pdf, cluster


def deltas(base: pd.DataFrame, seed: int, n: int) -> list[dict]:
    """``n`` successive deltas for the reindex workload. Each touches
    three conversations (0.3% of the 1,000-conversation corpus) through
    one ``run_incremental(delta_path=..., deleted_conv_ids=...)`` call:

    - two new turns appended to one existing conversation (the delta
      holds that conversation's full new row set, as delta mode
      requires);
    - one new 4-turn conversation;
    - one existing conversation deleted via ``deleted_conv_ids``.

    Returns dicts with ``rows`` (the delta frame), ``deleted`` (conv
    ids), ``grown`` / ``added`` (conv ids), ``appended`` ((conv, turn)
    keys the reads must see) and ``final`` (the whole input after the
    delta, for the rebuild check)."""
    rng = np.random.RandomState(seed + 15485863)
    cur = base.copy()
    ts_max = cur["ts"].max()
    out: list[dict] = []
    # small conversations only, so a delta stays O(a few turns)
    sizes = cur.groupby("conv_id").size()
    pool = sorted(sizes[sizes <= 20].index.tolist())
    picks = rng.choice(len(pool), size=2 * n, replace=False)
    for r in range(n):
        grow, gone = pool[picks[2 * r]], pool[picks[2 * r + 1]]
        rows = cur[cur["conv_id"] == grow]
        nxt = int(rows["turn_idx"].max()) + 1
        t0 = ts_max + pd.Timedelta(minutes=r * 10 + 1)
        extra = _turns(grow, [nxt, nxt + 1], rng, t0)
        new_id = f"convD{seed % 100000:05d}{r:04d}"
        added = _turns(new_id, [0, 1, 2, 3], rng, t0 + pd.Timedelta(minutes=1))
        delta = pd.concat([rows, extra, added], ignore_index=True)
        cur = pd.concat(
            [cur[~cur["conv_id"].isin([grow, gone])], delta], ignore_index=True
        )
        new_keys = pd.concat([extra, added], ignore_index=True)
        out.append(
            {
                "rows": delta,
                "deleted": (gone,),
                "grown": grow,
                "added": new_id,
                "appended": list(
                    zip(new_keys["conv_id"], new_keys["turn_idx"].astype(int))
                ),
                "final": cur,
            }
        )
    return out


_DELTA_LINES = [
    "We migrated from {e1} to {e2} after the outage, deltaword{n}.",
    "Can you check how {e1} handles large joins, deltaword{n}?",
    "{e1} depends on {e2} in the new stack, deltaword{n}.",
    "@{at} please review the {e1} rollout, deltaword{n}.",
]


def _turns(conv_id: str, idxs: list[int], rng, ts0) -> pd.DataFrame:
    surfaces = ["postgresql", "redis", "kafka", "spark", "python", "docker"]
    # the line shapes are fixed (only the entities and the tag word are
    # drawn), so every delta does the same kind of work whatever the seed
    text = [
        _DELTA_LINES[k % len(_DELTA_LINES)].format(
            e1=surfaces[int(rng.randint(len(surfaces)))],
            e2=surfaces[int(rng.randint(len(surfaces)))],
            at="deltareviewer",
            n=int(rng.randint(10**6)),
        )
        for k in range(len(idxs))
    ]
    return pd.DataFrame(
        {
            "conv_id": pd.Series([conv_id] * len(idxs), dtype="string"),
            "turn_idx": pd.Series(idxs, dtype="int32"),
            "role": pd.Series(
                ["user" if i % 2 == 0 else "assistant" for i in idxs], dtype="string"
            ),
            "text": pd.Series(text, dtype="string"),
            "tool": pd.Series([None] * len(idxs), dtype="string"),
            "ts": pd.Series(
                [ts0 + pd.Timedelta(seconds=i) for i in range(len(idxs))]
            ).astype("datetime64[ns]"),
        }
    )


def write_parquet(pdf: pd.DataFrame, path: str) -> int:
    """Write the way ``synth.ensure_corpus`` does (µs timestamps, ~64
    row groups so the scan splits); returns the file's size in bytes."""
    pdf.to_parquet(
        path,
        index=False,
        coerce_timestamps="us",
        allow_truncated_timestamps=True,
        row_group_size=max(8192, len(pdf) // 64),
    )
    return os.path.getsize(path)
