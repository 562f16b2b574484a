"""Seed-keyed benchmark inputs, generated once per (workload, seed) into a cache.

Generation is never timed: :func:`prepare` writes the parquet tables the
program will read plus a ``meta.json`` of input properties, and a later run
with the same seed reuses them.  Every byte is a pure function of the seed,
so the same seed gives byte-identical files and another seed different ones.

Both corpora fix their shape (document count; media-span count and heavy
documents for seal-batch; near-duplicate count for curate-text) so that a
different seed changes *which* documents are drawn but hardly how much work
they are; per-item sizes (image dimensions, text lengths) and the few exact
duplicates of curate-text still vary with the seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np

# seal-batch: documents per job, media spans per document (datagen's mean,
# heavy documents included) and the share of media-heavy documents.
SEAL_DOCS = 40
SEAL_MEDIA_PER_DOC = 2.4
SEAL_HEAVY_SHARE = 0.02
# datagen: light documents have 1-12 spans, heavy ones 20-40
HEAVY_MIN_SPANS = 20

# curate-text: documents per job, and the shape of the documents table the
# curation job reads (documents.parquet of the sf0.1 test data: 5000 docs of
# 10-100 whitespace-separated tokens, uniform, drawn uniformly from 30 words
# with no punctuation; 250 docs (5%) are another doc's text plus " dup", the
# source drawn with replacement, so a source drawn twice leaves one exact
# duplicate pair; every doc passes the quality gate).
CURATE_DOCS = 1000
CURATE_TOKENS = (10, 100)
CURATE_NEAR_DUP_SHARE = 0.05
# near-duplicate sources have at least this many tokens, so every planted
# pair has shingle Jaccard >= 28/29 and the engine's MinHash-LSH stage
# (8 bands of 4 rows) misses one with probability below 1e-7
CURATE_MIN_SOURCE_TOKENS = 30
CURATE_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector "
    "window").split()


def _rng(seed: int, key: str) -> np.random.Generator:
    digest = hashlib.sha256(f"perfbench:{seed}:{key}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(digest[:8], "little")))


# ---------------------------------------------------------------------------
# seal-batch: interleaved documents + PNG media from sources.datagen defaults
# ---------------------------------------------------------------------------


def _n_media(doc: dict) -> int:
    return sum(1 for s in doc["spans"] if s["kind"] == "media")


def seal_documents(seed: int, n_docs: int = SEAL_DOCS) -> list[dict]:
    """``n_docs`` datagen documents with exactly ``round(2.4 * n_docs)``
    media spans, ``round(0.02 * n_docs)`` (at least one) of them heavy.

    Documents are drawn in datagen index order; a light document is skipped
    when taking it would move the running media total away from the target
    by more than the remaining documents can correct.
    """
    from red_seal_ocr_spark.sources.datagen import gen_document

    n_heavy = max(1, round(SEAL_HEAVY_SHARE * n_docs))
    n_light = n_docs - n_heavy
    target = round(SEAL_MEDIA_PER_DOC * n_docs)
    heavy, light_pool = [], []
    i = 0
    while len(heavy) < n_heavy:
        d = gen_document(i, seed)
        (heavy if len(d["spans"]) >= HEAVY_MIN_SPANS else light_pool).append(d)
        i += 1
    need = target - sum(_n_media(d) for d in heavy)
    if need < 0:
        raise ValueError(f"seed {seed}: heavy documents alone exceed {target} media")
    mean = need / n_light
    light: list[dict] = []

    def candidates():
        yield from light_pool
        j = i
        while j < i + 1_000_000:
            d = gen_document(j, seed)
            if len(d["spans"]) < HEAVY_MIN_SPANS:
                yield d
            j += 1

    for d in candidates():
        left = n_light - len(light)
        if left == 0:
            break
        rest = need - _n_media(d)
        if left == 1:
            ok = rest == 0
        else:
            ok = rest >= 0 and abs(rest - mean * (left - 1)) <= max(2.0, 0.5 * (left - 1))
        if ok:
            light.append(d)
            need = rest
    if len(light) != n_light or need != 0:
        raise ValueError(f"seed {seed}: could not draw the seal-batch corpus")
    return sorted(heavy + light, key=lambda d: d["doc_id"])


def seal_media(docs: list[dict], seed: int) -> dict[str, bytes]:
    """Media rows for ``docs`` (dangling refs have none), PNG-encoded."""
    from red_seal_ocr_spark.sources.datagen import (
        doc_media_refs,
        media_is_dangling,
        render_media,
    )

    media = {}
    for d in docs:
        for ref in doc_media_refs(d):
            if not media_is_dangling(ref, seed):
                media[ref] = render_media(ref, seed)
    return media


# ---------------------------------------------------------------------------
# curate-text: a text-only documents table with planted duplicates
# ---------------------------------------------------------------------------


def curate_documents_rows(seed: int, n_docs: int = CURATE_DOCS) -> list[dict]:
    """``(doc_id, text)`` rows in the shape of the test data's documents
    table: base documents, plus ``round(0.05 * n_docs)`` near duplicates
    (a base document with " dup" appended); doc ids are shuffled."""
    rng = _rng(seed, "curate")
    n_near = round(CURATE_NEAR_DUP_SHARE * n_docs)
    lo, hi = CURATE_TOKENS
    vocab = np.array(CURATE_VOCAB)
    base = [" ".join(vocab[rng.integers(0, len(vocab), size=int(rng.integers(lo, hi + 1)))])
            for _ in range(n_docs - n_near)]
    sources = [t for t in base if t.count(" ") + 1 >= CURATE_MIN_SOURCE_TOKENS]
    texts = base + [sources[int(j)] + " dup"
                    for j in rng.integers(0, len(sources), size=n_near)]
    ids = rng.permutation(n_docs)
    return sorted(({"doc_id": int(ids[k]), "text": t} for k, t in enumerate(texts)),
                  key=lambda r: r["doc_id"])


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------

def _docs_schema():
    import pyarrow as pa

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    return pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])


def _write(rows: list[dict], schema, path: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def _generate(workload: str, seed: int, out: Path) -> dict:
    import pyarrow as pa

    if workload == "seal-batch":
        docs = seal_documents(seed)
        media = seal_media(docs, seed)
        docs_schema = _docs_schema()
        media_schema = pa.schema([("media_ref", pa.string()), ("content", pa.binary())])
        media_rows = [{"media_ref": k, "content": v} for k, v in sorted(media.items())]
        _write(docs, docs_schema, out / "docs.parquet")
        _write(media_rows, media_schema, out / "media.parquet")
        n_media = sum(_n_media(d) for d in docs)
        return {
            "docs": len(docs),
            "media_spans": n_media,
            "media_rows": len(media),
            "dangling_refs": n_media - len(media),
            "heavy_docs": sum(1 for d in docs if len(d["spans"]) >= HEAVY_MIN_SPANS),
            "bytes_by_format": {"png": sum(len(v) for v in media.values())},
        }
    if workload == "curate-text":
        rows = curate_documents_rows(seed)
        schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
        _write(rows, schema, out / "docs.parquet")
        return {
            "docs": len(rows),
            "media_spans": 0,
            "text_bytes": sum(len(r["text"].encode()) for r in rows),
        }
    raise ValueError(f"unknown workload {workload!r}")


def prepare(workload: str, seed: int, cache_root: Path) -> tuple[Path, dict]:
    """Directory holding the inputs for ``(workload, seed)``, generating it
    on a cache miss (written under a temporary name, then renamed)."""
    out = cache_root / workload / f"seed-{seed}"
    meta_path = out / "meta.json"
    if meta_path.exists():
        return out, json.loads(meta_path.read_text())
    tmp = cache_root / workload / f".seed-{seed}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    meta = _generate(workload, seed, tmp)
    meta["seed"] = seed
    (tmp / "meta.json").write_text(json.dumps(meta, indent=1, sort_keys=True))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, meta
