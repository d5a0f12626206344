"""The benchmark workloads: each builds its seeded inputs, runs a closed
loop of operations (one client; the next operation starts when the
previous one returns), checks every output and returns its metrics.

Timed regions contain only calls into the engine's public functions and
the full consumption of their result; input generation, golden
extraction and output checks run outside them.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from . import inputs
from .spans import TIMED, UNTIMED, Tracer, med

# page_bound: documents per extraction operation (two pages each);
# minimum timed operations, after one untimed warm-up extraction of the
# first PAGE_BOUND_WARMUP_DOCS documents (the first extraction of a
# process runs while the JIT is still compiling Spark's planner and
# codegen paths)
PAGE_BOUND_DOCS = 24
PAGE_BOUND_WARMUP_DOCS = 8
PAGE_BOUND_MIN_OPS = 4
# ckpt_ingest: base docs (doc 0 heavy, the rest two pages each), doc
# buckets, update batches x docs per batch, spans of the heavy doc,
# read-back repetitions
CKPT_BASE_DOCS = 8
CKPT_BUCKETS = 2
CKPT_BATCHES = 2
CKPT_BATCH_DOCS = 4
CKPT_HEAVY_SPANS = 24
CKPT_READS = 2
# docs of the untimed warm-up job run before the timed cycle
CKPT_WARMUP_DOCS = 2
# pages per traced kernel sample (single-threaded, driver-side)
KERNEL_SAMPLE_PAGES = 3
# traced tiling sample: linear upscale of the giant page (3x a fixture
# page is 28 Mpx, above the engine's 12 Mpx tile threshold) and the
# fixture-size pages beside it; its Spark jobs run under TILING groups
TILING_SCALE = 3
TILING_NORMAL_PAGES = 2
TILING = "tiling-"
# traced query sample: one registered query per query module (a cheap
# representative of each) and the timed passes after the verifying pass;
# its jobs run under QUERY groups
QUERIES = (
    "q_topk_orders",  # relational
    "q_token_count",  # textops
    "q_cosine_topk",  # similarity
    "q_pricing_summary",  # eventops
    "q_paragraph_dedup",  # webtext
    "q_hits_scores",  # graphops
    "q_phash_pairs",  # visual
    "q_salted_join",  # skew
    "q_skew_profile",  # maintenance
)
QUERY_PASSES = 2
QUERY = "queries-"


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    span_mismatch_docs: int = 0
    checks: dict = field(default_factory=dict)  # named self-checks -> bool
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)  # raw per-op values

    @property
    def correct(self) -> bool:
        return self.span_mismatch_docs == 0 and all(self.checks.values())


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    cores: int
    work_dir: str
    cache_dir: str


def fingerprint(df):
    """One-row full consumption of an ``extracted``-shaped frame: row count
    and XOR of a hash over all five columns ((doc_id, order) is unique, so
    equal rows cannot cancel)."""
    h = F.xxhash64("doc_id", "order", "kind", "text", "media_ref")
    return df.agg(F.count("*").alias("rows"), F.bit_xor(h).alias("hash"))


def has_window(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Window" in plan


def mismatched_docs(rows, expected: dict[str, list[tuple]]) -> int:
    """Docs whose (kind, text, media_ref, order) sequence differs from the
    golden one (missing and unexpected docs count too)."""
    got: dict[str, list[tuple]] = {}
    for r in rows:
        got.setdefault(r["doc_id"], []).append(
            (r["kind"], r["text"], r["media_ref"], r["order"])
        )
    for seq in got.values():
        seq.sort(key=lambda t: t[3])
    return sum(got.get(d) != seq for d, seq in expected.items()) + len(
        set(got) - set(expected)
    )


def kernel_layers(ctx: Ctx, corpus: inputs.Corpus) -> dict:
    """Single-threaded per-kernel times on a seeded sample of the
    workload's normal-size pages, through the kernels' public functions."""
    from bsc_project_spark.fixtures.corpus import FIXTURE_CONFIG as cfg
    from bsc_project_spark.io.png import decode_gray
    from bsc_project_spark.kernels.golden import extract_page
    from bsc_project_spark.kernels.imgproc import preprocess
    from bsc_project_spark.kernels.ocr import crop_cell, decode_cell, pad_for_ocr
    from bsc_project_spark.kernels.postprocess import (
        extract_row_col_bboxes,
        post_process_mask,
        scale_bbox,
    )
    from bsc_project_spark.kernels.segment import segment_page

    refs = sorted(corpus.pages)
    sample = random.Random(f"kernels:{ctx.seed}").sample(
        refs, min(KERNEL_SAMPLE_PAGES, len(refs))
    )
    tr = ctx.tracer
    cells = []
    for ref in sample:
        path = inputs.ensure_png(ctx.cache_dir, corpus.pages[ref])
        with open(path, "rb") as f:
            data = f.read()
        tr.new_trace()
        with tr.span("io.decode"):
            gray = decode_gray(data)
        with tr.span("kernels.extract_page"):
            extract_page(gray, cfg, cfg.ocr_glyph_scale)
        with tr.span("kernels.preprocess"):
            binary = preprocess(gray, cfg)
        with tr.span("kernels.segment_page"):
            mask = segment_page(binary, cfg)
        with tr.span("kernels.post_process_mask"):
            final = post_process_mask(mask, cfg)
        with tr.span("kernels.bboxes"):
            bboxes = extract_row_col_bboxes(final, cfg)
        h, w = gray.shape
        cells.append(len(bboxes))
        for b in bboxes:
            _r, _c, x1, y1, x2, y2 = scale_bbox(
                tuple(b[:6]), (w, h), (binary.shape[1], binary.shape[0])
            )
            crop = pad_for_ocr(crop_cell(gray, x1, y1, x2, y2), cfg.ocr_min_size)
            with tr.span("kernels.decode_cell"):
                decode_cell(crop, cfg, cfg.ocr_glyph_scale)

    def m(name):
        return med(s.dur for s in tr.named(name))

    return {
        "io.decode_s": m("io.decode"),
        "kernels.extract_page_s": m("kernels.extract_page"),
        "kernels.preprocess_s": m("kernels.preprocess"),
        "kernels.segment_page_s": m("kernels.segment_page"),
        "kernels.post_process_mask_s": m("kernels.post_process_mask"),
        "kernels.bboxes_s": m("kernels.bboxes"),
        "kernels.decode_cell_s": m("kernels.decode_cell"),
        "kernels.cells_per_page": med(cells),
    }


# ------------------------------------------------------------ page_bound ----


def page_bound(ctx: Ctx) -> Result:
    from bsc_project_spark.fixtures.corpus import FIXTURE_CONFIG as cfg
    from bsc_project_spark.pipeline.extract import run_extract_stage

    spark, tr = ctx.spark, ctx.tracer
    corpus = inputs.page_bound_corpus(ctx.seed, PAGE_BOUND_DOCS)
    data_dir = os.path.join(ctx.work_dir, "page_bound")
    warm = inputs.Corpus(docs=corpus.docs[:PAGE_BOUND_WARMUP_DOCS])
    inputs.write_documents(corpus, os.path.join(data_dir, "documents.parquet"))
    inputs.write_documents(warm, os.path.join(data_dir, "warm.parquet"))
    inputs.write_media(ctx.cache_dir, corpus, os.path.join(data_dir, "media.parquet"))
    media = spark.read.parquet(os.path.join(data_dir, "media.parquet"))
    res = Result()
    trace_mode = tr.enabled

    def op(
        docs, traced: bool, timed: bool = True
    ) -> tuple[float, object, object]:
        """One extraction: plan, run the page stage, fully consume
        ``extracted``.  Traced operations materialize the persisted stage
        on its own so the page stage and the assembly are timed apart.
        In a traced run, the Spark jobs of a timed operation run under a
        TIMED job group (a span's, or TIMED + "untraced")."""
        tr.enabled = traced
        tr.new_trace()
        if trace_mode and timed and not traced:
            spark.sparkContext.setJobGroup(TIMED + "untraced", "untraced operation")
        t0 = time.perf_counter()
        with tr.span("extract.op"):
            with tr.span("extract.plan"):
                r = run_extract_stage(docs, media, cfg, persist=True)
            if traced:
                with tr.span("extract.page_stage"):
                    r.stage.count()
            with tr.span("extract.assemble"):
                fp = fingerprint(r.extracted)
                row = fp.collect()[0]
        wall = time.perf_counter() - t0
        tr.enabled = False
        if trace_mode:
            spark.sparkContext.setJobGroup(UNTIMED, UNTIMED)
        return wall, row, (r, fp)

    if trace_mode:
        spark.sparkContext.setJobGroup(UNTIMED, UNTIMED)
    _, _, (r0, _) = op(spark.read.parquet(os.path.join(data_dir, "warm.parquet")), False, False)
    r0.stage.unpersist()

    docs = spark.read.parquet(os.path.join(data_dir, "documents.parquet"))
    # the first timed operation's rows are checked against the golden
    # extractor; every later operation must reproduce its fingerprint
    ref_fp, ref_rows = None, []
    walls, traced_walls, lineage, window_ok = [], [], [], True
    t_start = time.perf_counter()
    i = 0
    while i < PAGE_BOUND_MIN_OPS or time.perf_counter() - t_start < ctx.seconds:
        traced = trace_mode and i % 2 == 0
        res.attempted += 1
        try:
            wall, row, (r, fp) = op(docs, traced)
            window_ok &= has_window(fp)
            if traced:
                lineage.extend(r.lineage.collect())
            if ref_fp is None:
                ref_fp, ref_rows = row, r.extracted.collect()
            r.stage.unpersist()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            print(f"page_bound op {i} failed: {e!r}", file=sys.stderr)
            res.failed += 1
            i += 1
            continue
        if row != ref_fp:
            res.failed += 1
        (traced_walls if traced else walls).append(wall)
        i += 1
    tr.enabled = trace_mode

    cells = inputs.golden_cells(ctx.cache_dir, corpus, ctx.cores)
    res.span_mismatch_docs = mismatched_docs(ref_rows, inputs.golden_spans(corpus, cells))
    if res.span_mismatch_docs:
        res.failed = res.attempted
    res.checks["window_in_executed_plan"] = window_ok
    all_walls = walls + traced_walls
    wall = med(walls or all_walls)
    res.samples["op_wall_s"] = walls
    res.samples["traced_op_wall_s"] = traced_walls
    res.e2e = {"docs_per_s": len(corpus.docs) / wall, "job_wall_s": wall}
    if trace_mode:
        ops = tr.named("extract.op")
        page_stage = med(s.dur for s in tr.named("extract.page_stage"))
        walls_ms = [l["wall_time_ms"] for l in lineage if l["page_count"]]
        res.layer.update(
            {
                "extract.plan_s": med(s.dur for s in tr.named("extract.plan")),
                "extract.page_stage_s": page_stage,
                "extract.assemble_s": med(s.dur for s in tr.named("extract.assemble")),
                "extract.dedup_ratio": len(corpus.pages) / corpus.n_media_spans(),
                "extract.task_skew": max(walls_ms) / med(walls_ms) if walls_ms else 0.0,
                "extract.kernel_busy_frac": (
                    sum(walls_ms) / 1000.0 / len(ops) / (page_stage * ctx.cores)
                    if page_stage
                    else 0.0
                ),
                "extract.spark_jobs": med(
                    sum(c.jobs for c in tr.subtree(s)) for s in ops
                ),
                "extract.spark_tasks": med(
                    sum(c.tasks for c in tr.subtree(s)) for s in ops
                ),
                "trace.overhead_frac": (
                    (med(traced_walls) - med(walls)) / med(walls) if walls else 0.0
                ),
                "trace.bookkeeping_frac": tr.bookkeeping_s / sum(traced_walls),
            }
        )
        res.layer.update(kernel_layers(ctx, corpus))
        res.layer.update(tiling_layers(ctx, res))
    return res


def tiling_layers(ctx: Ctx, res: Result) -> dict:
    """One seeded giant page (above the tile threshold) and fixture-size
    pages through ``run_page_stage``, untimed, under a TILING job group:
    the giant page must be routed to ``pipeline.tiling`` and every page's
    cells must equal the golden extractor's.  ``tiling.max_task_s`` is
    read from the event log after the run (``run.py``)."""
    import json

    from bsc_project_spark.fixtures.corpus import FIXTURE_CONFIG as cfg
    from bsc_project_spark.pipeline.extract import run_page_stage

    spark, tr = ctx.spark, ctx.tracer
    corpus = inputs.tiling_corpus(ctx.seed, TILING_SCALE, TILING_NORMAL_PAGES)
    path = os.path.join(ctx.work_dir, "tiling", "media.parquet")
    inputs.write_media(ctx.cache_dir, corpus, path)
    media = spark.read.parquet(path)
    tr.new_trace()
    with tr.span("tiling.page_stage", group_prefix=TILING):
        rows = run_page_stage(
            media, media.select("media_ref"), cfg, 2 * ctx.cores
        ).collect()
    got: dict[str, list] = {}
    giant_pages = 0
    for r in rows:
        if r["kind"] == "ocr":
            got.setdefault(r["media_ref"], []).append((r["row"], r["col"], r["text"]))
        elif r["kind"] == "_lineage":
            lin = json.loads(r["text"])
            if lin["partition_id"] == -1:  # per-page row of the tiled path
                giant_pages += lin["page_count"]
    golden = inputs.golden_cells(ctx.cache_dir, corpus, ctx.cores)
    res.checks["tiled_pages_match_golden"] = giant_pages == len(corpus.scale) and all(
        sorted(got.get(ref, [])) == sorted(cells) for ref, cells in golden.items()
    )
    return {
        "tiling.giant_pages": float(giant_pages),
        "tiling.page_stage_s": tr.named("tiling.page_stage")[0].dur,
    }


# ----------------------------------------------------------- ckpt_ingest ----


def _tree_stats(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            n += 1
            size += os.path.getsize(os.path.join(root, name))
    return n, size


def _page_stage_state(spark, out_dir: str) -> tuple[dict, list]:
    """What re-running the page stage would change: every file under
    ``cells/`` and ``lineage/`` with its mtime (the stage rewrites its
    bucket directories in overwrite mode), and the committed lineage rows
    (each carries its commit time)."""
    from bsc_project_spark.pipeline.checkpoint import read_lineage

    files = {}
    for sub in ("cells", "lineage"):
        for root, _dirs, names in os.walk(os.path.join(out_dir, sub)):
            for name in names:
                path = os.path.join(root, name)
                files[os.path.relpath(path, out_dir)] = os.stat(path).st_mtime_ns
    try:
        rows = read_lineage(spark, out_dir).collect()
    except ValueError:  # no page bucket committed yet
        rows = []
    return files, rows


def _pages_reextracted(before: tuple[dict, list], after: tuple[dict, list]) -> int:
    """Pages in lineage rows committed after ``before`` was taken, or, when
    only files changed, the count of page-stage files rewritten."""
    seen = {(r["bucket"], r["committed_at_ms"]) for r in before[1]}
    pages = sum(
        r["page_count"] or 0
        for r in after[1]
        if (r["bucket"], r["committed_at_ms"]) not in seen
    )
    rewritten = sum(after[0].get(path) != mtime for path, mtime in before[0].items())
    return pages or rewritten


def ckpt_ingest(ctx: Ctx) -> Result:
    """One ingest cycle per ``--seconds`` window (at least one): base job
    with an injected doc-stage crash, its resume, incremental updates,
    one replayed idempotency key, compaction and read-back."""
    from bsc_project_spark.fixtures.corpus import FIXTURE_CONFIG as cfg
    from bsc_project_spark.pipeline import checkpoint as ck

    spark, tr = ctx.spark, ctx.tracer
    data = inputs.ckpt_ingest_inputs(
        ctx.seed, CKPT_BASE_DOCS, CKPT_BATCHES, CKPT_BATCH_DOCS, CKPT_HEAVY_SPANS
    )
    data_dir = os.path.join(ctx.work_dir, "ckpt_ingest")
    everything = inputs.Corpus(
        docs=[d for c in [data.base, *data.batches] for d in c.docs],
        pages={r: i for c in [data.base, *data.batches] for r, i in c.pages.items()},
    )
    inputs.write_media(ctx.cache_dir, everything, os.path.join(data_dir, "media.parquet"))
    warm = inputs.Corpus(docs=data.base.docs[1 : 1 + CKPT_WARMUP_DOCS])
    for name, c in [("base", data.base), ("warm", warm)] + [
        (f"batch{u}", b) for u, b in enumerate(data.batches)
    ]:
        inputs.write_documents(c, os.path.join(data_dir, f"{name}.parquet"))
    media = spark.read.parquet(os.path.join(data_dir, "media.parquet"))
    base_docs = spark.read.parquet(os.path.join(data_dir, "base.parquet"))
    batch_docs = [
        spark.read.parquet(os.path.join(data_dir, f"batch{u}.parquet"))
        for u in range(len(data.batches))
    ]
    res = Result()
    trace_mode = tr.enabled
    if trace_mode:
        spark.sparkContext.setJobGroup(UNTIMED, UNTIMED)

    op_walls = []

    def timed(name: str, fn):
        """Run one operation; returns (wall, value, error)."""
        tr.enabled = trace_mode
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span(name):
                value = fn()
            err = None
        except Exception as e:  # noqa: BLE001 - classified by the caller
            value, err = None, e
        wall = time.perf_counter() - t0
        tr.enabled = False
        op_walls.append(wall)
        return wall, value, err

    job_walls, resume_walls, upd_walls, read_walls = [], [], [], []
    compact_walls, ingest_walls = [], []
    layer_cycle: dict = {}
    golden = None
    # untimed warm-up: a small base job on its own table, so the timed
    # cycle does not start on a cold JVM
    warm_out = os.path.join(ctx.work_dir, "warm_table")
    ck.run_extraction_job(
        spark.read.parquet(os.path.join(data_dir, "warm.parquet")), media, cfg,
        warm_out, n_buckets=1, n_page_buckets=1,
    )
    shutil.rmtree(warm_out, ignore_errors=True)
    t_start = time.perf_counter()
    cycle = 0
    while cycle == 0 or time.perf_counter() - t_start < ctx.seconds:
        out = os.path.join(ctx.work_dir, f"table{cycle}")
        shutil.rmtree(out, ignore_errors=True)
        tr.new_trace()
        snaps_at = {}

        def n_snaps() -> int:
            return len(ck.list_snapshots(out))

        # base job: crash after doc bucket 0 commits, then resume
        crash_wall, _, err = timed(
            "checkpoint.job",
            lambda: ck.run_extraction_job(
                base_docs, media, cfg, out, n_buckets=CKPT_BUCKETS,
                n_page_buckets=1, fail_after_bucket=0,
            ),
        )
        if not (isinstance(err, RuntimeError) and "injected failure" in str(err)):
            print(f"ckpt_ingest: base job missed the injected crash: {err!r}", file=sys.stderr)
            res.failed += 1
        snaps_at["crash"] = n_snaps()
        page_stage_before = _page_stage_state(spark, out)
        resume_wall, _, err = timed(
            "checkpoint.resume",
            lambda: ck.run_extraction_job(
                base_docs, media, cfg, out, n_buckets=CKPT_BUCKETS, n_page_buckets=1
            ),
        )
        if err is not None:
            print(f"ckpt_ingest: resume failed: {err!r}", file=sys.stderr)
            res.failed += 1
        snaps_at["resume"] = n_snaps()
        reextracted = _pages_reextracted(page_stage_before, _page_stage_state(spark, out))
        res.checks["resume_reextracts_no_pages"] = reextracted == 0
        job_walls.append(crash_wall + resume_wall)
        resume_walls.append(resume_wall)

        this_upd = []
        for u, bdocs in enumerate(batch_docs):
            wall, _, err = timed(
                "checkpoint.update",
                lambda bdocs=bdocs, u=u: ck.run_incremental_update(
                    bdocs, media, cfg, out, idempotency_key=f"batch-{u}"
                ),
            )
            if err is not None:
                print(f"ckpt_ingest: update {u} failed: {err!r}", file=sys.stderr)
                res.failed += 1
            this_upd.append(wall)
            upd_walls.append(wall)
        snaps_at["updates"] = n_snaps()
        files_before_compact = _tree_stats(out)

        # replayed idempotency key: must commit nothing
        before = ck.read_manifest(out).get("snapshot_id")
        _, _, err = timed(
            "checkpoint.replay",
            lambda: ck.run_incremental_update(
                batch_docs[data.replay], media, cfg, out,
                idempotency_key=f"batch-{data.replay}",
            ),
        )
        noop = err is None and ck.read_manifest(out).get("snapshot_id") == before
        res.checks["replayed_key_is_noop"] = noop
        if not noop:
            res.failed += 1

        output_bytes = sum(
            os.path.getsize(p.split(":", 1)[1] if p.startswith("file:") else p)
            for p in ck.read_extracted(spark, out).inputFiles()
        )
        wall, _, err = timed("checkpoint.compact", lambda: ck.compact(spark, out))
        if err is not None:
            print(f"ckpt_ingest: compact failed: {err!r}", file=sys.stderr)
            res.failed += 1
        compact_walls.append(wall)

        ref_fp = None
        for k in range(CKPT_READS):
            wall, row, err = timed(
                "checkpoint.read",
                lambda: fingerprint(ck.read_extracted(spark, out)).collect()[0],
            )
            if err is not None or (ref_fp is not None and row != ref_fp):
                print(f"ckpt_ingest: read {k} failed or differs: {err!r}", file=sys.stderr)
                res.failed += 1
            ref_fp = ref_fp or row
            read_walls.append(wall)

        rows = ck.read_extracted(spark, out).collect()
        if golden is None:
            cells = inputs.golden_cells(ctx.cache_dir, everything, ctx.cores)
            golden = inputs.golden_spans(everything, cells)
        bad = mismatched_docs(rows, golden)
        res.span_mismatch_docs = max(res.span_mismatch_docs, bad)
        if bad:
            res.failed += 1
        ingest_walls.append(crash_wall + resume_wall + sum(this_upd))

        if trace_mode and cycle == 0:
            layer_cycle = _ckpt_layers(
                ctx, out, data, everything, snaps_at, reextracted,
                files_before_compact, output_bytes,
            )
        shutil.rmtree(out, ignore_errors=True)
        cycle += 1
    tr.enabled = trace_mode

    res.e2e = {
        "docs_per_s": len(everything.docs) / med(ingest_walls),
        "job_wall_s": med(job_walls),
    }
    res.samples.update(
        {
            "job_wall_s": job_walls,
            "resume_wall_s": resume_walls,
            "update_latency_s": upd_walls,
            "read_latency_s": read_walls,
            "ingest_wall_s": ingest_walls,
        }
    )
    if trace_mode:
        res.layer.update(layer_cycle)
        res.layer.update(
            {
                "checkpoint.resume_wall_s": med(resume_walls),
                "checkpoint.update_latency_s": med(upd_walls),
                "checkpoint.update_latency_max_s": max(upd_walls),
                "checkpoint.read_latency_s": med(read_walls),
                "checkpoint.compact_s": med(compact_walls),
                "trace.bookkeeping_frac": tr.bookkeeping_s / sum(op_walls),
            }
        )
        res.layer.update(kernel_layers(ctx, data.base))
        res.layer.update(query_layers(ctx, res))
    return res


def _ckpt_layers(
    ctx, out, data, everything, snaps_at, reextracted, files_before, output_bytes
) -> dict:
    """Checkpoint-layer metrics of the first (traced) cycle."""
    from bsc_project_spark.pipeline.checkpoint import list_snapshots, read_lineage

    tr = ctx.tracer
    snaps = list_snapshots(out)
    calls = tr.named("checkpoint.job")[:1] + tr.named("checkpoint.resume")[:1]
    # commit intervals of the base job + resume: consecutive snapshot
    # times, the first of each call measured from the call's start
    page_iv, doc_iv = [], []
    prev_pages = 0
    bounds = [(0, snaps_at["crash"]), (snaps_at["crash"], snaps_at["resume"])]
    for (lo, hi), call in zip(bounds, calls):
        t_prev = None
        for s in snaps[lo:hi]:
            t = s["committed_at_ms"] / 1000.0
            if t_prev is not None:
                iv = t - t_prev
            else:
                # perf_counter span start -> wall clock via the span's end
                iv = t - (time.time() - (time.perf_counter() - call.start))
            t_prev = t
            n_pages = len(s.get("committed_page_buckets", []))
            (page_iv if n_pages > prev_pages else doc_iv).append(iv)
            prev_pages = n_pages
    committing = [
        s
        for s in tr.spans
        if s.trace_id == calls[0].trace_id
        and s.name in ("checkpoint.job", "checkpoint.resume", "checkpoint.update")
    ]
    # base job + resume snapshots, plus one snapshot per update
    n_commits = snaps_at["resume"] + sum(s.name == "checkpoint.update" for s in committing)
    jobs = sum(s.jobs for s in committing)
    tasks = sum(s.tasks for s in committing)

    lin = read_lineage(ctx.spark, out).collect()
    base_ms = [
        r["wall_time_ms"]
        for r in lin
        if r["bucket"] >= 0 and r["page_count"] and r["wall_time_ms"] is not None
    ]
    upd_pages = sum(r["page_count"] or 0 for r in lin if r["bucket"] < 0)
    upd_refs = sum(
        len({s["media_ref"] for _, spans in b.docs for s in spans if s["kind"] == "media"})
        for b in data.batches
    )
    page_stage = sum(page_iv)
    out_layers = {
        "checkpoint.page_bucket_s": med(page_iv),
        "checkpoint.doc_bucket_s": med(doc_iv),
        "checkpoint.jobs_per_commit": jobs / n_commits,
        "checkpoint.tasks_per_commit": tasks / n_commits,
        "checkpoint.files_per_commit": files_before[0] / snaps_at["updates"],
        "checkpoint.bytes_per_output_byte": files_before[1] / output_bytes,
        "checkpoint.update_reuse_ratio": upd_pages / upd_refs,
        "checkpoint.resume_pages_reextracted": float(reextracted),
        "extract.dedup_ratio": len(everything.pages) / everything.n_media_spans(),
        "extract.task_skew": max(base_ms) / med(base_ms) if base_ms else 0.0,
        "extract.kernel_busy_frac": (
            sum(base_ms) / 1000.0 / (page_stage * ctx.cores) if page_stage else 0.0
        ),
    }
    return out_layers


# --------------------------------------------------------- query sample ----


def _canon_rows(cols: list[str], rows) -> list[str]:
    """Order-insensitive canonical form of a result: columns sorted by
    name, doubles to 10 significant digits, rows sorted."""

    def cell(v) -> str:
        if v is None:
            return "\x00NULL"
        if isinstance(v, float):
            return "NaN" if v != v else f"{v:.10g}"
        return str(v)

    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted("\x01".join(cell(r[i]) for i in order) for r in rows)


def query_layers(ctx: Ctx, res: Result) -> dict:
    """``QUERIES`` on a seeded star schema, untimed by the workload, under
    QUERY job groups.  A first pass collects every result and compares it
    with the query's DuckDB oracle (``queries_match_oracle``); then
    ``QUERY_PASSES`` traced passes run the builder call plus ``.count()``
    per query, and every count must equal the verified row count."""
    import duckdb

    from bsc_project_spark.queries import TABLES, all_queries

    spark, tr = ctx.spark, ctx.tracer
    data_dir = os.path.join(ctx.work_dir, "queries")
    inputs.star_schema(ctx.seed, data_dir)
    specs = {name: all_queries()[name] for name in QUERIES}

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    expected, mismatched = {}, []
    for name, spec in specs.items():
        df = spec.spark(spark, data_dir)
        rows = df.collect()
        oracle = con.execute(spec.oracle)
        want = _canon_rows([d[0] for d in oracle.description], oracle.fetchall())
        if _canon_rows(df.columns, rows) != want:
            mismatched.append(name)
        expected[name] = len(rows)
    con.close()
    if mismatched:
        print(f"query sample: results differ from the oracle: {mismatched}", file=sys.stderr)

    passes = []
    for _ in range(QUERY_PASSES):
        tr.new_trace()
        with tr.span("queries.pass", group_prefix=QUERY) as sp:
            for name, spec in specs.items():
                with tr.span(f"queries.{name}", group_prefix=QUERY):
                    if spec.spark(spark, data_dir).count() != expected[name]:
                        mismatched.append(name)
        passes.append(sp.dur)
    res.checks["queries_match_oracle"] = not mismatched
    out = {"queries.pass_s": med(passes)}
    for name in QUERIES:
        out[f"queries.{name}_s"] = med(s.dur for s in tr.named(f"queries.{name}"))
    return out
