"""Span-sequence check against the generator's truth.

A doc is correct when its extracted `(order, kind, text, media_ref)`
sequence equals the truth exactly. `None` and `""` read the same on both
sides (the program may emit either for "no text" / "no media ref").
A doc missing from the output, a doc the input does not have, and every
doc of a run that raised count as failed.
"""

from __future__ import annotations

import pandas as pd


def _s(v) -> str:
    return v if isinstance(v, str) else ""


def sequences(df: pd.DataFrame) -> dict[str, tuple]:
    """Span rows (doc_id, order, kind, text, media_ref) -> per-doc tuple of
    normalised (order, kind, text, media_ref), in order."""
    out: dict[str, list] = {}
    df = df.sort_values(["doc_id", "order"], kind="stable")
    for doc_id, order, kind, text, ref in zip(
            df["doc_id"], df["order"], df["kind"], df["text"],
            df["media_ref"]):
        out.setdefault(doc_id, []).append(
            (int(order), _s(kind), _s(text), _s(ref)))
    return {d: tuple(v) for d, v in out.items()}


def count_failed(got: dict[str, tuple], want: dict[str, tuple]) -> int:
    """Docs whose sequence differs from truth or is missing, plus extra
    docs the input does not have."""
    wrong = sum(1 for d, seq in want.items() if got.get(d) != seq)
    return wrong + sum(1 for d in got if d not in want)


def self_check(want: dict[str, tuple]) -> None:
    """Prove the check can fail: truth itself passes, and a copy with one
    text changed and one doc dropped reads as exactly two failed docs.
    Raises RuntimeError when the check misjudges."""
    docs = sorted(want)
    if len(docs) < 2:
        raise RuntimeError("self-check needs at least two docs")
    if count_failed(dict(want), want) != 0:
        raise RuntimeError("self-check: truth does not match itself")
    perturbed = dict(want)
    del perturbed[docs[0]]
    target = next(d for d in docs[1:]
                  if any(kind == "text" for _, kind, _, _ in want[d]))
    seq = list(perturbed[target])
    i = next(i for i, (_, kind, _, _) in enumerate(seq) if kind == "text")
    order, kind, text, ref = seq[i]
    seq[i] = (order, kind, text + " x", ref)
    perturbed[target] = tuple(seq)
    if count_failed(perturbed, want) != 2:
        raise RuntimeError("self-check: perturbed output not read as failed")
    # None and "" are the same value on both sides
    rows = pd.DataFrame([(target, o, k, t or None, r or None)
                         for o, k, t, r in want[target]],
                        columns=["doc_id", "order", "kind", "text",
                                 "media_ref"])
    if sequences(rows)[target] != want[target]:
        raise RuntimeError("self-check: None and '' normalise differently")
