"""Seeded input generators for the benchmark workloads.

Everything is drawn from ``numpy.random.default_rng(seed)`` and written with
pyarrow, so the same seed gives byte-identical parquet files and the program
under test sees only those files. No Spark and no code from ``xema_spark``
is used here: the generators are independent of the engine they feed.

Two shapes:

- the interleaved corpus ``documents(doc_id string, spans
  array<struct<kind, text, media_ref, offset>>)`` plus ``assets(media_ref,
  media_type, bytes)``, in the shape of ``xema_spark.datagen.gen_documents``
  (FIXTURES.md T1/T2): 1-7 spans alternating text/media, a violation class
  on every 13th doc, every 101st doc repeating the previous doc_id, and one
  mega-hot media_ref taking ~20% of media spans;
- the sf-style text table ``documents(doc_id bigint, text, lang, source,
  n_chars)``: 10-99 tokens drawn from the 30-word vocabulary of the sf
  testdata, plus exact and token-permuted copies under fresh ids so the
  dedup stages have work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LOREM = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua ut enim ad minim "
    "veniam quis nostrud exercitation ullamco laboris nisi ut aliquip ex ea"
)

# violation classes, cycling on every 13th doc (same order as datagen)
CLS_MISSING_KIND, CLS_BAD_KIND, CLS_NEG_OFFSET = 0, 1, 2
CLS_EMPTY_SPANS, CLS_DANGLING_REF, CLS_DUP_MARKER = 3, 4, 5
HOT_ASSET = 1  # the one mega-hot media_ref, asset-000001
DANGLE_TAIL = 97

SPAN_TYPE = pa.struct([("kind", pa.string()), ("text", pa.string()),
                       ("media_ref", pa.string()), ("offset", pa.int32())])

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "de", "es", "fr"], dtype=object)
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
COPY_ID_BASE = 10_000_000  # fresh ids for copies; clear of the +1000000 probe ids


def n_assets_for(n_docs: int) -> int:
    return max(100, n_docs // 10)


def interleaved_docs(seed: int, n_docs: int, id_base: int = 0) -> pa.Table:
    """``n_docs`` interleaved documents. ``id_base`` shifts the doc_id range
    so that several batches of one corpus never share ids by accident (the
    101st-doc duplicates are the only intended repeats)."""
    rng = np.random.default_rng(seed)
    i = np.arange(n_docs, dtype=np.int64)
    cls = np.where(i % 13 == 0, (i // 13 + rng.integers(0, 6)) % 6, -1)
    base = np.where((i % 101 == 0) & (i > 0), i - 1, i) + id_base
    doc_id = pa.array([f"doc-{b:08d}" for b in base.tolist()], pa.string())

    n_spans = np.where(cls == CLS_EMPTY_SPANS, 0, rng.integers(1, 8, n_docs))
    offsets = np.zeros(n_docs + 1, dtype=np.int32)
    np.cumsum(n_spans, out=offsets[1:])
    total = int(offsets[-1])
    doc_of = np.repeat(i, n_spans)
    j = np.arange(total, dtype=np.int64) - offsets[:-1][doc_of]
    span_cls = cls[doc_of]
    first = j == 0

    is_text = ((j + rng.integers(0, 2, n_docs)[doc_of]) % 2) == 0
    kind = np.where(is_text, "text", "media").astype(object)
    kind[first & (span_cls == CLS_BAD_KIND)] = "blob"
    kind_mask = first & (span_cls == CLS_MISSING_KIND)

    prefixes = np.array([LOREM[:k] for k in range(1, 121)], dtype=object)
    text = prefixes[rng.integers(0, 120, total)]
    text_mask = ~is_text | (rng.integers(0, 17, total) == 0)

    n_assets = n_assets_for(n_docs)
    refs = np.array([f"asset-{k:06d}" for k in range(n_assets + DANGLE_TAIL)],
                    dtype=object)
    asset = np.where(rng.random(total) < 0.2, HOT_ASSET,
                     rng.integers(0, n_assets, total))
    dangling = n_assets + rng.integers(0, DANGLE_TAIL, n_docs)[doc_of]
    asset = np.where(span_cls == CLS_DANGLING_REF, dangling, asset)
    media_ref = refs[asset]

    offset = (j * 100 + rng.integers(0, 50, total)).astype(np.int32)
    offset[first & (span_cls == CLS_NEG_OFFSET)] = -5

    spans = pa.StructArray.from_arrays(
        [pa.array(kind, pa.string(), mask=kind_mask),
         pa.array(text, pa.string(), mask=text_mask),
         pa.array(media_ref, pa.string(), mask=is_text),
         pa.array(offset, pa.int32())],
        fields=list(SPAN_TYPE))
    return pa.table({"doc_id": doc_id,
                     "spans": pa.ListArray.from_arrays(pa.array(offsets), spans)})


def assets_table(n_docs: int) -> pa.Table:
    """The asset dimension: refs 0..n_assets-1 exist; the DANGLE_TAIL refs
    past it do not."""
    k = np.arange(n_assets_for(n_docs))
    return pa.table({
        "media_ref": pa.array([f"asset-{x:06d}" for x in k.tolist()]),
        "media_type": pa.array(np.array(["image", "audio", "video"],
                                        dtype=object)[k % 3]),
        "bytes": pa.array(1024 + (k * 7919) % (1 << 20), pa.int64()),
    })


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 100, n)
    words = np.array(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    return [" ".join(w) for w in np.split(words, cuts)]


def _permuted(rng: np.random.Generator, text: str, n_swaps: int) -> str:
    toks = text.split(" ")
    for _ in range(n_swaps):
        a = int(rng.integers(0, len(toks) - 1))
        toks[a], toks[a + 1] = toks[a + 1], toks[a]
    return " ".join(toks)


def text_docs(seed: int, n_base: int, copy_frac: float) -> pa.Table:
    """sf-style documents: ``n_base`` fresh docs plus ``copy_frac * n_base``
    copies of random base docs under fresh ids. A quarter of the copies are
    verbatim (exact dedupe), half swap one adjacent token pair (usually a
    verified near-dup) and a quarter swap four pairs (candidates the Jaccard
    verifier often rejects)."""
    rng = np.random.default_rng(seed)
    base = _texts(rng, n_base)
    n_copy = int(n_base * copy_frac)
    src = rng.integers(0, n_base, n_copy)
    swaps = rng.choice([0, 1, 4], size=n_copy, p=[0.25, 0.5, 0.25])
    copies = [_permuted(rng, base[s], int(k)) if k else base[s]
              for s, k in zip(src.tolist(), swaps.tolist())]
    texts = base + copies
    n = len(texts)
    ids = np.concatenate([np.arange(n_base), COPY_ID_BASE + np.arange(n_copy)])
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)]),
        "source": pa.array([f"src{k % 20}" for k in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write(table: pa.Table, path: str, row_groups: int = 16) -> int:
    """Write one parquet file; returns its size in bytes. Compression and
    the row-group count are fixed so the bytes depend only on the table;
    several row groups let Spark split the file across every core."""
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(1, -(-table.num_rows // row_groups)))
    return os.path.getsize(path)
