"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``--seed``: the seed picks page indices,
document layouts and popularity draws; the pages themselves are pure
functions of their page index (``fixtures.corpus.page_spec`` rendered by
``fixtures.render.render_page``), which keeps the fixture's degenerate-page mix (blank pages,
noise blobs, tall glyphs, dot-only cells).

Page draws are stratified: slot ``k`` of a draw takes a random page whose
*class* (blank / special-page kind / row count) equals the class of page
index ``k``.  Every seed therefore extracts the same mix of page kinds and
row counts, so run-to-run spread measures the engine, not the luck of the
draw; only missing cells and cell texts differ between seeds.

Inputs are written as parquet and read back by Spark: a Python-list
``createDataFrame`` would route every re-scan through Python workers.
Rendered pages and their golden extraction (``kernels.golden``) are cached
under ``<cache>/<source hash>/`` keyed by page index, so a change to any
engine source file starts a fresh cache.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import subprocess
import sys
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# page indices are drawn from [0, PAGE_RANGE): large enough for distinct
# draws per seed, small enough that the page cache fills over a few runs
PAGE_RANGE = 384

SPAN_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)


def source_hash(package_dir: str) -> str:
    """sha256 over every engine source file: identifies the code a cache
    entry (rendered page, golden cells) was produced by."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(package_dir):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                h.update(os.path.relpath(path, package_dir).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def page_class(idx: int) -> tuple:
    """The properties of page ``idx`` that set its kernel cost: blank,
    special-page kind, row count (fixtures.corpus.page_spec)."""
    from bsc_project_spark.fixtures.corpus import _h

    if idx % 11 == 7:
        return ("blank",)
    special = idx % 7 if idx % 7 in (3, 5, 6) else 0
    return ("page", special, _h(idx) % 4)


def draw_pages(rng: random.Random, n: int, exclude: set[int]) -> list[int]:
    """``n`` distinct page indices, slot k matching page_class(k)."""
    by_class: dict[tuple, list[int]] = {}
    for idx in range(PAGE_RANGE):
        if idx not in exclude:
            by_class.setdefault(page_class(idx), []).append(idx)
    out: list[int] = []
    for k in range(n):
        pool = by_class[page_class(k)]
        out.append(pool.pop(rng.randrange(len(pool))))
    exclude.update(out)
    return out


def slot_ref(slot: int, idx: int, suffix: str = "") -> str:
    """media_ref of draw slot ``slot``.  The engine deals equal-size pages
    to partitions in media_ref order, so naming refs by slot gives every
    seed the same page-class mix per partition (and the same skew)."""
    return f"s{slot:03d}-p{idx:05d}{'-' + suffix if suffix else ''}"


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (r + 1) ** s for r in range(n)]


@dataclass
class Corpus:
    """Documents as span lists plus the media they cite."""

    docs: list[tuple[str, list[dict]]] = field(default_factory=list)
    pages: dict[str, int] = field(default_factory=dict)  # media_ref -> page idx
    # media_ref -> linear upscale factor of a giant page (absent: 1)
    scale: dict[str, int] = field(default_factory=dict)

    def n_media_spans(self) -> int:
        return sum(s["kind"] == "media" for _, spans in self.docs for s in spans)


class SpanBuilder:
    def __init__(self) -> None:
        self.spans: list[dict] = []

    def text(self, t: str) -> None:
        self.spans.append(
            {"kind": "text", "text": t, "media_ref": None, "offset": len(self.spans)}
        )

    def media(self, ref: str) -> None:
        self.spans.append(
            {"kind": "media", "text": None, "media_ref": ref, "offset": len(self.spans)}
        )


def page_bound_corpus(seed: int, n_docs: int) -> Corpus:
    """``n_docs`` documents, each with its own top/bottom page pair and
    interleaved text spans.  No page is shared and every page has the
    fixture size, so the kernel stage carries the largest share."""
    rng = random.Random(f"page_bound:{seed}")
    idxs = draw_pages(rng, 2 * n_docs, set())
    c = Corpus()
    for d in range(n_docs):
        b = SpanBuilder()
        b.text(f"logbook {seed}-{d} header")
        for k, half in enumerate(("t", "b")):
            ref = slot_ref(2 * d + k, idxs[2 * d + k], half)
            c.pages[ref] = idxs[2 * d + k]
            b.media(ref)
            for j in range(rng.randrange(3)):
                b.text(f"note {d}.{k}.{j}")
        b.text(f"logbook {seed}-{d} footer")
        c.docs.append((f"doc_{d:05d}", b.spans))
    return c


@dataclass
class IngestInputs:
    base: Corpus
    batches: list[Corpus]
    replay: int  # index of the batch whose idempotency key is replayed


def ckpt_ingest_inputs(
    seed: int, base_docs: int, n_batches: int, batch_docs: int, heavy_spans: int
) -> IngestInputs:
    """Base corpus + incremental batches for the checkpoint workload.

    Base: doc 0 is heavy (``heavy_spans`` media spans drawn with Zipf
    popularity from the base pool), docs 1.. cite two pool pages each so
    every pool page is cited.  Batch b: each doc cites one page new in
    that batch and one already-committed base page (Zipf), plus text
    spans."""
    rng = random.Random(f"ckpt_ingest:{seed}")
    used: set[int] = set()
    pool = draw_pages(rng, 2 * (base_docs - 1), used)
    # popularity rank = slot, so the most-cited pages have the same page
    # classes for every seed; the citations themselves are seeded draws
    pool_refs = [slot_ref(k, i) for k, i in enumerate(pool)]
    weights = zipf_weights(len(pool_refs))

    base = Corpus(pages=dict(zip(pool_refs, pool)))
    b = SpanBuilder()
    b.text("heavy logbook header")
    for j, ref in enumerate(rng.choices(pool_refs, weights, k=heavy_spans)):
        b.media(ref)
        if j % 8 == 7:
            b.text(f"heavy note {j}")
    base.docs.append(("doc_b0000", b.spans))
    for d in range(1, base_docs):
        b = SpanBuilder()
        b.text(f"logbook {seed}-{d}")
        b.media(pool_refs[2 * (d - 1)])
        if rng.random() < 0.5:
            b.text(f"margin {d}")
        b.media(pool_refs[2 * (d - 1) + 1])
        base.docs.append((f"doc_b{d:04d}", b.spans))

    batches = []
    for u in range(n_batches):
        fresh = draw_pages(rng, batch_docs, used)
        batch = Corpus()
        for d, idx in enumerate(fresh):
            ref = slot_ref(d, idx, f"u{u}")
            old = rng.choices(pool_refs, weights, k=1)[0]
            batch.pages[ref] = idx
            batch.pages[old] = base.pages[old]
            b = SpanBuilder()
            b.text(f"update {u} doc {d}")
            first, second = (ref, old) if rng.random() < 0.5 else (old, ref)
            b.media(first)
            b.text("continued")
            b.media(second)
            batch.docs.append((f"doc_u{u}_{d:03d}", b.spans))
        batches.append(batch)
    return IngestInputs(base, batches, replay=rng.randrange(n_batches))


def tiling_corpus(seed: int, scale: int, n_normal: int) -> Corpus:
    """One giant page (a seeded ordinary page upscaled ``scale`` times in
    each direction, above the engine's tile threshold) and ``n_normal``
    fixture-size pages, cited by one document."""
    rng = random.Random(f"tiling:{seed}")
    ordinary = [i for i in range(PAGE_RANGE) if page_class(i)[:2] == ("page", 0)]
    giant = rng.choice(ordinary)
    c = Corpus()
    b = SpanBuilder()
    for k, idx in enumerate([giant] + draw_pages(rng, n_normal, {giant})):
        ref = slot_ref(k, idx, "giant" if k == 0 else "")
        c.pages[ref] = idx
        b.media(ref)
    c.scale[slot_ref(0, giant, "giant")] = scale
    c.docs.append(("doc_tiling", b.spans))
    return c


# ---------------------------------------------------------- star schema ----

VOCAB = (
    "the a fast slow big small key order sort table scan merge part window "
    "hash join batch stream spark dup group query row data filter customer "
    "line value agg column vector"
).split()


# row counts of the scaled star-schema tables: small enough that a query
# costs about its planning and job overhead, large enough that every
# query returns rows
STAR_ROWS = {
    "customer": 300,
    "supplier": 20,
    "part": 400,
    "orders": 3000,
    "lineitem": 12000,
    "events": 3000,
    "documents": 400,
    "embeddings": 500,
}


def star_schema(seed: int, out_dir: str) -> None:
    """Seeded tables with the schema of the engine's query test data
    (``queries.TABLES``: a TPC-H-like star schema plus ``events``,
    ``documents`` and ``embeddings``), one parquet file each under
    ``out_dir``."""
    import numpy as np

    g = np.random.default_rng(seed)
    n = STAR_ROWS
    ts = pa.timestamp("us")
    day_us = 86_400_000_000
    epoch_1992 = 694_224_000_000_000  # 1992-01-01 in us
    epoch_2024 = 1_704_067_200_000_000

    def money(lo, hi, size):
        return np.round(g.uniform(lo, hi, size), 2)

    def pick(values, size):
        return pa.array(np.asarray(values, dtype=object)[g.integers(0, len(values), size)])

    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
            "c_nationkey": pa.array(g.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": money(-999, 9999, n["customer"]),
            "c_mktsegment": pick(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n["customer"],
            ),
        },
        "supplier": {
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
            "s_nationkey": pa.array(g.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": money(-999, 9999, n["supplier"]),
        },
        "part": {
            "p_partkey": pa.array(range(n["part"]), pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    pick(["blue", "red", "cold", "hot", "new", "large", "small"], n["part"]).to_pylist(),
                    pick(["widget", "bolt", "gear", "rod", "ring", "anvil"], n["part"]).to_pylist(),
                )
            ],
            "p_brand": [f"Brand#{k}" for k in g.integers(1, 26, n["part"])],
            "p_type": pick(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n["part"]
            ),
            "p_size": pa.array(g.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900.0 + np.arange(n["part"]) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
            "o_custkey": pa.array(g.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": pick(["F", "O", "P"], n["orders"]),
            "o_totalprice": money(1000, 400000, n["orders"]),
            "o_orderdate": pa.array(
                epoch_1992 + g.integers(0, 3650, n["orders"]) * day_us, ts
            ),
            "o_orderpriority": pick(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n["orders"],
            ),
        },
    }
    m = n["lineitem"]
    qty = g.integers(1, 51, m).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": pa.array(g.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(g.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, m), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * g.uniform(900, 2100, m), 2),
        "l_discount": np.round(g.integers(0, 11, m) / 100.0, 2),
        "l_tax": np.round(g.integers(0, 9, m) / 100.0, 2),
        "l_returnflag": pick(["A", "N", "R"], m),
        "l_linestatus": pick(["F", "O"], m),
        "l_shipdate": pa.array(epoch_1992 + g.integers(0, 3650, m) * day_us, ts),
    }
    e = n["events"]
    tables["events"] = {
        "event_id": pa.array(range(e), pa.int64()),
        "ts": pa.array(
            epoch_2024 + np.cumsum(g.integers(1, 600_000_000, e)), ts
        ),
        "user_id": pa.array(g.integers(0, max(e // 20, 1), e), pa.int64()),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], e),
        "value": money(1, 200, e),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, e)],
    }
    d = n["documents"]
    texts = [
        " ".join(VOCAB[w] for w in g.integers(0, len(VOCAB), g.integers(20, 90)))
        for _ in range(d)
    ]
    tables["documents"] = {
        "doc_id": pa.array(range(d), pa.int64()),
        "text": texts,
        "lang": pick(["de", "en", "es", "fr", "zh"], d),
        "source": [f"src{k}" for k in g.integers(0, 20, d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    v = n["embeddings"]
    tables["embeddings"] = {
        "vec_id": pa.array(range(v), pa.int64()),
        "embedding": pa.array(
            list(g.normal(0, 0.15, (v, 64)).astype(np.float32)), pa.list_(pa.float32())
        ),
        "label": pa.array(g.integers(0, 10, v), pa.int32()),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------- cache ----


def _cache_path(cache_dir: str, kind: str, idx: int, scale: int = 1) -> str:
    ext = "png" if kind == "png" else "json"
    name = f"p{idx:05d}" + (f"x{scale}" if scale > 1 else "")
    return os.path.join(cache_dir, kind, f"{name}.{ext}")


def ensure_png(cache_dir: str, idx: int, scale: int = 1) -> str:
    """Path of page ``idx`` rendered, upscaled ``scale`` times in each
    direction (nearest neighbour) and png-encoded, rendering on a miss."""
    import numpy as np

    from bsc_project_spark.fixtures.corpus import page_spec
    from bsc_project_spark.fixtures.render import render_page
    from bsc_project_spark.io.png import encode_gray

    path = _cache_path(cache_dir, "png", idx, scale)
    if not os.path.exists(path):
        gray = render_page(page_spec(idx))
        if scale > 1:
            gray = np.kron(gray, np.ones((scale, scale), dtype=np.uint8))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            f.write(encode_gray(gray))
        os.replace(path + ".tmp", path)
    return path


def _golden_page(cache_dir: str, idx: int, scale: int = 1) -> None:
    """Golden cells of one page, computed from its cached PNG bytes by the
    single-process reference extractor (``kernels.golden``)."""
    from bsc_project_spark.fixtures.corpus import FIXTURE_CONFIG
    from bsc_project_spark.io.png import decode_gray
    from bsc_project_spark.kernels.golden import extract_page

    with open(ensure_png(cache_dir, idx, scale), "rb") as f:
        gray = decode_gray(f.read())
    cells = extract_page(gray, FIXTURE_CONFIG, FIXTURE_CONFIG.ocr_glyph_scale)
    path = _cache_path(cache_dir, "golden", idx, scale)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(cells, f)
    os.replace(path + ".tmp", path)


def golden_cells(
    cache_dir: str, corpus: Corpus, workers: int
) -> dict[str, list[tuple[int, int, str]]]:
    """media_ref -> golden (row, col, text) cells for every cited page,
    computing missing cache entries in ``workers`` child processes
    (``python -m perfbench.inputs``), each waited for."""
    keys = {ref: (idx, corpus.scale.get(ref, 1)) for ref, idx in corpus.pages.items()}
    missing = sorted(
        {
            key
            for key in keys.values()
            if not os.path.exists(_cache_path(cache_dir, "golden", *key))
        }
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-m", "perfbench.inputs", cache_dir]
            + [f"{i}x{k}" for i, k in missing[w::workers]]
        )
        for w in range(min(workers, len(missing)))
    ]
    codes = [p.wait() for p in procs]
    if any(codes):
        raise RuntimeError(f"golden extraction workers failed: exit codes {codes}")
    out = {}
    for ref, key in keys.items():
        with open(_cache_path(cache_dir, "golden", *key)) as f:
            out[ref] = [tuple(c) for c in json.load(f)]
    return out


def golden_spans(
    corpus: Corpus, cells: dict[str, list[tuple[int, int, str]]]
) -> dict[str, list[tuple]]:
    """doc_id -> expected (kind, text, media_ref, order) sequence."""
    out = {}
    for doc_id, spans in corpus.docs:
        seq: list[tuple] = []
        for s in spans:
            if s["kind"] == "text":
                seq.append(("text", s["text"], None, len(seq)))
            else:
                for _row, _col, text in cells[s["media_ref"]]:
                    seq.append(("ocr", text, s["media_ref"], len(seq)))
        out[doc_id] = seq
    return out


def write_documents(corpus: Corpus, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d for d, _ in corpus.docs], pa.string()),
                "spans": pa.array([s for _, s in corpus.docs], SPAN_TYPE),
            }
        ),
        path,
    )


def write_media(cache_dir: str, corpus: Corpus, path: str) -> None:
    """The media table of every page ``corpus`` cites, in small row groups
    (pages are the heavy rows)."""
    from bsc_project_spark.fixtures.render import ORIG_H, ORIG_W

    refs = sorted(corpus.pages)
    scales = [corpus.scale.get(ref, 1) for ref in refs]
    contents = []
    for ref, k in zip(refs, scales):
        with open(ensure_png(cache_dir, corpus.pages[ref], k), "rb") as f:
            contents.append(f.read())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "media_ref": pa.array(refs, pa.string()),
                "content": pa.array(contents, pa.binary()),
                "width": pa.array([ORIG_W * k for k in scales], pa.int32()),
                "height": pa.array([ORIG_H * k for k in scales], pa.int32()),
                "layout_id": pa.array([corpus.pages[r] for r in refs], pa.int64()),
            }
        ),
        path,
        row_group_size=8,
    )


if __name__ == "__main__":
    # golden worker: python -m perfbench.inputs <cache_dir> <idx>x<scale>...
    for arg in sys.argv[2:]:
        idx, scale = arg.split("x")
        _golden_page(sys.argv[1], int(idx), int(scale))
