"""Seeded benchmark inputs.

Every input is a pure function of the workload seed, and the program
only ever sees the parquet files written here.

* ``synthetic_corpus`` — the FIXTURES.md corpus (``generate_corpus``)
  with its planted exact / near / substring / boilerplate / chain
  families and oracle pairs.
* ``lowoverlap_corpus`` — unique random text per conversation with 5%
  planted near-duplicate copies, the regime of real corpora. The text
  model is that of ``tools/bench_incremental.py`` (which hard-codes its
  seed); here the seed is an argument and the number of copies is fixed,
  so seeds differ in content, not in family structure.
* ``removal_set`` — a seeded draw of conversations to remove that always
  contains planted-family members, including a family's smallest id (its
  cluster label), so removing them changes clusters.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from dedup_spark.corpus import CorpusSpec, generate_corpus

TURN_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool"]
#: low-overlap conversation length, fixed (the mean of the 5–24 turns the
#: text model draws from) so a delta's input-turn count is the same for
#: every seed
TURNS_PER_CONV = 15


def synthetic_corpus(n_convs: int, seed: int):
    """→ (turns, planted whole-conversation pairs as a set of (a, b))."""
    turns, oracle_pairs, _ = generate_corpus(CorpusSpec(n_convs=n_convs, seed=seed))
    planted = {
        (r.conv_a, r.conv_b)
        for r in oracle_pairs.itertuples()
        if r.kind in ("exact_dup", "near_dup", "chain")
    }
    return turns, planted


def lowoverlap_corpus(n_old: int, n_new: int, seed: int):
    """→ (turns, families) over conversations ``c000000``… of
    ``TURNS_PER_CONV`` turns each, the last ``n_new`` of them the new
    batch. 5% of the old conversations (at least 2) and 5% of the new
    ones (at least 1) are near-duplicate copies of distinct earlier old
    conversations, at seeded positions; the counts are fixed so every
    seed plants the same family structure. ``families`` lists each
    [original, copy] pair."""
    rng = np.random.Generator(np.random.PCG64(seed))
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz      ", dtype="S1")

    def text(n: int) -> str:
        return b"".join(alphabet[rng.integers(0, 32, size=n)]).decode()

    n = n_old + n_new
    copies = set(rng.choice(np.arange(1, n_old), max(2, round(0.05 * n_old)),
                            replace=False).tolist())
    copies |= set((n_old + rng.choice(n_new, max(1, round(0.05 * n_new)),
                                      replace=False)).tolist())
    docs: list[list[str]] = []
    members: dict[int, list[int]] = {}
    for i in range(n):
        if i in copies:
            origin = int(rng.choice([q for q in range(min(i, n_old))
                                     if q not in copies and q not in members]))
            turns = list(docs[origin])
            turns[-1] = turns[-1] + " " + text(30)  # near-dup: perturbed tail
            members.setdefault(origin, [origin]).append(i)
        else:
            turns = [text(int(rng.integers(200, 700))) for _ in range(TURNS_PER_CONV)]
        docs.append(turns)
    rows = [
        (f"c{i:06d}", t_idx, "user" if t_idx % 2 == 0 else "assistant", t, None)
        for i, turns in enumerate(docs)
        for t_idx, t in enumerate(turns)
    ]
    turns_df = pd.DataFrame(rows, columns=TURN_COLUMNS)
    turns_df["turn_idx"] = turns_df["turn_idx"].astype("int32")
    families = [[f"c{i:06d}" for i in m] for _, m in sorted(members.items())]
    return turns_df, families


def removal_set(conv_ids, families, n_remove: int, seed: int) -> list[str]:
    """Seeded removal draw from ``conv_ids``: one member of each of up to
    half the budget's families that lie wholly inside ``conv_ids`` (every
    other one the family's smallest id, its cluster label), topped up with
    conversations that belong to no family, so every seed breaks the same
    number of families and leaves the others intact."""
    pool = set(conv_ids)
    inside = [sorted(f) for f in families if set(f) <= pool]
    if not inside:
        raise ValueError("no planted family to remove from")
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    picked: set[str] = set()
    for k, f in enumerate(rng.permutation(len(inside))[: max(1, n_remove // 2)]):
        fam = inside[f]
        picked.add(fam[0] if k % 2 == 0 else fam[int(rng.integers(1, len(fam)))])
    loners = sorted(pool - {c for f in families for c in f})
    top_up = max(0, n_remove - len(picked))
    picked.update(rng.choice(loners, size=top_up, replace=False).tolist())
    return sorted(picked)
