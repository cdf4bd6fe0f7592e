"""Workload inputs, built from `sparkstract.fixtures.gen` by seed.

Each workload is a set of docs + media written as parquet (the program
reads them back through `sources.docs`) plus the truth span sequence of
every doc. The same seed gives byte-identical inputs; `docs_sha256` and
`media_sha256` fingerprint them so two commits provably ran the same
inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from sparkstract.fixtures.gen import PAGE_FAMILIES, generate_corpus

from check import sequences

# The R3_FROZEN_FAMILIES entries whose media the generator encodes as
# lossless PNG (every other frozen family goes through another codec).
R3_PNG_FAMILIES = (
    "single_column", "two_column", "interleaved_order", "image_only",
    "grid_2x2", "paragraphs", "noise_page", "ruled_page", "table_page",
    "skewed_page", "rotated_page", "textured_photo", "gradient_page",
    "contents_page", "equation_page", "vertical_page", "disc_page",
    "tracked_page", "bowed_page", "broken_page", "margin_note", "bidi_page",
    "rotated_rtl", "inline_equation_page", "wavy_page", "ragged_page",
    "embedded_vertical", "sparse_texture", "para_page", "greek_page",
    "music_page", "cyrillic_page", "rgb_png_page", "devanagari_page",
    "smudged_page", "fuzzy_space_page",
)
CODEC_MIX_FAMILIES = tuple(f for f in PAGE_FAMILIES if f != "empty_page")

CODEC_MIX_DOCS = 2 * len(CODEC_MIX_FAMILIES)   # every family twice
LAYOUT_PNG_DOCS = 400                          # one 32-page doc per 50
HEAVY_EVERY, HEAVY_PAGES = 50, 32

DOCS_ARROW = pa.schema([
    ("doc_id", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32())]))),
])
MEDIA_ARROW = pa.schema([
    ("media_ref", pa.string()), ("width", pa.int32()),
    ("height", pa.int32()), ("image", pa.binary()),
])
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


@dataclass
class Inputs:
    workload: str
    seed: int
    docs_path: str
    media_path: str
    truth: dict[str, tuple]        # doc_id -> normalised span sequence
    media: list[tuple[str, bytes]]  # unique (media_ref, bytes), gen order
    sizes: dict = field(default_factory=dict)
    fingerprint: dict = field(default_factory=dict)


def _corpus(workload: str, seed: int):
    if workload == "codec_mix":
        return generate_corpus(CODEC_MIX_DOCS, seed=seed, heavy_every=0,
                               families=CODEC_MIX_FAMILIES)
    if workload == "layout_png":
        fs = generate_corpus(LAYOUT_PNG_DOCS, seed=seed,
                             heavy_every=HEAVY_EVERY,
                             heavy_pages=HEAVY_PAGES,
                             families=R3_PNG_FAMILIES)
        bad = [r for r, b in zip(fs.media["media_ref"], fs.media["image"])
               if bytes(b[:8]) != _PNG_SIG]
        if bad:
            raise RuntimeError(f"{workload}: non-PNG media {bad[:3]}")
        return fs
    raise ValueError(f"unknown workload {workload!r}")


def _fingerprint(docs: list[dict], media: list[dict]) -> dict:
    hd, hm = hashlib.sha256(), hashlib.sha256()
    for d in docs:
        hd.update(json.dumps(d, sort_keys=True).encode())
    for m in media:
        hm.update(json.dumps([m["media_ref"], int(m["width"]),
                              int(m["height"])]).encode())
        hm.update(bytes(m["image"]))
    return dict(docs_sha256=hd.hexdigest(), media_sha256=hm.hexdigest())


def build(workload: str, seed: int, out_dir: str) -> Inputs:
    fs = _corpus(workload, seed)
    docs = fs.docs.to_dict("records")
    media = fs.media.to_dict("records")
    truth = sequences(fs.truth)

    os.makedirs(out_dir, exist_ok=True)
    docs_path = os.path.join(out_dir, "docs.parquet")
    media_path = os.path.join(out_dir, "media.parquet")
    pq.write_table(pa.Table.from_pylist(docs, schema=DOCS_ARROW), docs_path)
    pq.write_table(pa.Table.from_pylist(media, schema=MEDIA_ARROW),
                   media_path)

    n_refs = sum(1 for d in docs for s in d["spans"] if s["kind"] == "media")
    sizes = dict(docs=len(docs), media_spans=n_refs, unique_media=len(media),
                 refs_per_media=round(n_refs / max(len(media), 1), 3),
                 media_mb=round(sum(len(m["image"]) for m in media) / 1e6, 3),
                 truth_spans=sum(len(t) for t in truth.values()))
    return Inputs(workload, seed, docs_path, media_path, truth,
                  [(m["media_ref"], bytes(m["image"])) for m in media],
                  sizes, _fingerprint(docs, media))
